"""Training-data ops: dedup, similarity, text analysis."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan, named
from whylogs_spark.ops import dedup, similarity, text


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "Hello World"), (3, "different doc")],
        ["doc_id", "text"],
    )
    out = dedup.exact_dedup(df).orderBy("doc_id").collect()
    assert [r["doc_id"] for r in out] == [1, 3]


def test_duplicate_stats(documents):
    row = dedup.duplicate_stats(documents).collect()[0]
    assert row["n_docs"] == documents.count()
    assert row["n_unique"] <= row["n_docs"]
    assert row["n_dup_docs"] == row["n_docs"] - row["n_unique"]


def test_minhash_signature_positions_independent(spark):
    df = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        ["doc_id", "text"],
    )
    sig = dedup.minhash_signatures(df, num_hashes=16).first()["minhash_sig"]
    # regression: a broken seed once made every position identical
    assert len(set(sig)) > 8


def test_minhash_detects_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")
    other = "completely unrelated text about spark aggregation plans " * 6
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"]
    )
    pairs = dedup.minhash_lsh_pairs(df, jaccard_threshold=0.3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got
    assert all(3 not in p for p in got)
    kept = dedup.minhash_dedup(df, jaccard_threshold=0.3)
    assert {r["doc_id"] for r in kept.collect()} == {1, 3}


def test_minhash_dedup_precollapse_and_reuse_parity(spark):
    """Exact-duplicate pre-collapse + reuse_signatures must both keep
    the survivor set identical to plain min-id single-link semantics:
    replicas of a text collapse to the group min id, chains still close
    transitively through the representative, and null texts are mutual
    duplicates."""
    base = "the quick brown fox jumps over the lazy dog once more " * 5
    near = base.replace("lazy", "sleepy")
    other = "completely unrelated text about spark planner internals " * 6
    rows = [(1, base), (2, near), (3, other), (4, None), (5, None),
            # exact replicas of base and other, interleaved ids
            (6, base), (7, other), (8, base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # 2/6/8 cluster with 1; 7 clusters with 3; 5 with 4 (null group)
    expect = {1, 3, 4}
    for reuse in (False, True):
        kept = {r["doc_id"] for r in dedup.minhash_dedup(
            df, jaccard_threshold=0.3,
            reuse_signatures=reuse).collect()}
        assert kept == expect, (reuse, kept)


def test_minhash_jaccard_close_to_exact(spark):
    a = "a b c d e f g h i j k l m n o p"
    b = "a b c d e f g h i j k l x y z w"
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(
        df, bands=32, jaccard_threshold=0.0).collect()
    assert len(pairs) == 1
    # exact verification stage reports true jaccard of 3-shingle sets
    sa = {" ".join(a.split()[i:i+3]) for i in range(len(a.split())-2)}
    sb = {" ".join(b.split()[i:i+3]) for i in range(len(b.split())-2)}
    true_j = len(sa & sb) / len(sa | sb)
    assert pairs[0]["jaccard"] == pytest.approx(true_j, abs=1e-9)


def test_ngram_jaccard_pairs_exact(spark):
    a = "a b c d e f g h i j k l m n o p"
    b = "a b c d e f g h i j k l x y z w"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, "totally disjoint gram set here now")],
        ["doc_id", "text"],
    )
    pairs = dedup.ngram_jaccard_pairs(df, n=3).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    sa = {" ".join(a.split()[i:i + 3]) for i in range(len(a.split()) - 2)}
    sb = {" ".join(b.split()[i:i + 3]) for i in range(len(b.split()) - 2)}
    assert got[(1, 2)] == pytest.approx(len(sa & sb) / len(sa | sb))
    assert (1, 3) not in got and (2, 3) not in got


def test_embedding_neardup_pairs(spark):
    v = [1.0, 0.0, 0.0, 0.0]
    near = [0.99, 0.1, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, v), (2, near), (3, far)], ["vec_id", "embedding"])
    pairs = dedup.embedding_neardup_pairs(df, threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    assert pairs[0]["cosine"] == pytest.approx(
        0.99 / np.sqrt(0.99 ** 2 + 0.1 ** 2))


def test_embedding_decontaminate_and_pairs(spark):
    from whylogs_spark.ops.similarity import (
        embedding_contamination_pairs, embedding_decontaminate)

    rng = np.random.RandomState(17)
    bench_vecs = [list(map(float, v)) for v in rng.normal(0, 1, (5, 16))]
    rows = [(100 + i, v) for i, v in enumerate(bench_vecs)]
    corpus = []
    # planted leaks: tiny perturbations of benchmark items
    for i, v in enumerate(bench_vecs[:3]):
        corpus.append((i, [x + 0.01 * (j % 2) for j, x in enumerate(v)]))
    # clean rows: fresh random directions (16-dim gaussians are far
    # from any fixed direction with overwhelming probability)
    for i in range(3, 40):
        corpus.append((i, [float(x) for x in rng.normal(0, 1, 16)]))
    bench = spark.createDataFrame(rows, ["vec_id", "embedding"])
    corp = spark.createDataFrame(corpus, ["vec_id", "embedding"])
    pairs = embedding_contamination_pairs(
        corp, bench, threshold=0.95, planes=2, tables=16).collect()
    assert {(r.vec_id_corpus, r.vec_id_benchmark) for r in pairs} == \
        {(0, 100), (1, 101), (2, 102)}
    assert all(r.cosine >= 0.95 for r in pairs)
    cleaned = embedding_decontaminate(
        corp, bench, threshold=0.95, planes=2, tables=16)
    kept = {r.vec_id for r in cleaned.select("vec_id").collect()}
    assert kept == set(range(3, 40))


def test_embedding_outliers_planted(spark):
    from whylogs_spark.ops.similarity import embedding_outliers

    rng = np.random.RandomState(23)
    rows = []
    # a tight cluster of 20 near-identical vectors...
    center = rng.normal(0, 1, 16)
    for i in range(20):
        rows.append((i, [float(x) for x in
                         center + rng.normal(0, 0.01, 16)]))
    # ...plus one isolated vector orthogonal-ish to the cluster
    iso = rng.normal(0, 1, 16)
    iso -= iso.dot(center) / center.dot(center) * center
    rows.append((99, [float(x) for x in iso]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in embedding_outliers(
        df, k=3, planes=2, tables=16).collect()}
    assert len(out) == 21
    scores = {i: out[i].outlier_score for i in out
              if out[i].outlier_score is not None}
    # the isolated row scores strictly higher than every cluster row
    assert 99 in scores
    assert all(scores[99] > scores[i] for i in scores if i != 99)
    for i in range(20):
        assert out[i].n_neighbors == 3
        assert out[i].kth_cosine > 0.99


def test_embedding_outliers_dropped_bucket_flag(spark):
    """A row whose every bucket was dropped by the max_bucket cap gets
    n_neighbors = -1 (densest-region row, NOT an isolation signal);
    a row whose buckets were genuinely empty of others keeps 0."""
    from whylogs_spark.ops.similarity import embedding_outliers

    rng = np.random.RandomState(7)
    center = rng.normal(0, 1, 8)
    rows = [(i, [float(x) for x in center + rng.normal(0, 0.01, 8)])
            for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # cap of 2: the 30-member cluster shares every bucket -> all
    # buckets over the cap -> every row flagged dropped
    out = embedding_outliers(df, k=2, planes=1, tables=2,
                             max_bucket=2).collect()
    assert all(r.n_neighbors == -1 for r in out)
    assert all(r.outlier_score is None for r in out)
    # generous cap: the same rows all find real neighbors
    out2 = {r.vec_id: r for r in embedding_outliers(
        df, k=2, planes=1, tables=2, max_bucket=4096).collect()}
    assert all(v.n_neighbors == 2 for v in out2.values())
    # corpus-scaled default planes resolves (n=30 -> 1 plane) and runs
    out3 = embedding_outliers(df, k=2, tables=2).collect()
    assert len(out3) == 30


def test_simhash(spark):
    df = spark.createDataFrame(
        [(1, "spark is a distributed engine for big data"),
         (2, "spark is a distributed engine for huge data"),
         (3, "bananas oranges apples pears grapes melons kiwi")],
        ["doc_id", "text"],
    )
    sigs = dedup.simhash_signatures(df)
    rows = {r["doc_id"]: r["simhash"] for r in sigs.collect()}
    d12 = sigs.filter("doc_id=1").select(
        dedup.simhash_hamming(F.lit(rows[1]), F.lit(rows[2])).alias("h")
    ).first()["h"]
    d13 = sigs.filter("doc_id=1").select(
        dedup.simhash_hamming(F.lit(rows[1]), F.lit(rows[3])).alias("h")
    ).first()["h"]
    assert d12 < d13


def test_cosine_topk_matches_numpy(embeddings):
    pdf = embeddings.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    q = mat[0]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    top_true = set(pdf["vec_id"].to_numpy()[np.argsort(-sims)[:5]])
    out = similarity.cosine_topk(embeddings, list(q), k=5).collect()
    assert {r["vec_id"] for r in out} == top_true
    assert out[0]["cosine"] == pytest.approx(1.0)


def test_lsh_topk_recall(embeddings):
    pdf = embeddings.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    q = mat[7]
    exact = similarity.cosine_topk(embeddings, list(q), k=10).collect()
    approx = similarity.lsh_bucketed_topk(
        embeddings, list(q), k=10, tables=16, planes=4).collect()
    exact_ids = {r["vec_id"] for r in exact}
    approx_ids = {r["vec_id"] for r in approx}
    # expected recall ~1-(1-p^4)^16 with p = 1 - theta/pi; >= 0.7 here
    assert len(exact_ids & approx_ids) >= 7


def test_ivf_index_recall(embeddings):
    pdf = embeddings.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    q = mat[7]
    assigned, cents = similarity.ivf_index(embeddings, n_lists=8)
    assert assigned.groupBy("ivf_list").count().count() == 8
    exact = {r["vec_id"]
             for r in similarity.cosine_topk(embeddings, list(q), k=10)
             .collect()}
    approx = {r["vec_id"]
              for r in similarity.ivf_topk(assigned, cents, list(q),
                                           k=10, nprobe=4).collect()}
    assert len(exact & approx) >= 6
    # full probe == exact
    full = {r["vec_id"]
            for r in similarity.ivf_topk(assigned, cents, list(q),
                                         k=10, nprobe=8).collect()}
    assert full == exact


def test_text_stats(documents):
    out = text.with_text_stats(documents).limit(50).collect()
    for r in out:
        assert r["n_chars_calc"] == r["n_chars"]
        assert r["n_tokens"] > 0
        assert 0 <= r["punct_ratio"] <= 1
        toks = r["text"].split()
        assert r["n_tokens"] == len(toks)
        assert r["avg_token_len"] == pytest.approx(
            sum(len(t) for t in toks) / len(toks))


def test_language_id_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of the house"),
         (2, "el gato y la casa de que si"),
         (3, "zzz qqq www")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang_pred"]
           for r in text.with_language_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "und"


def test_quality_score_range(documents):
    out = text.with_quality_score(documents).select("quality_score").collect()
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in out)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world "), (3, "bye")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["fingerprint"]
           for r in text.with_fingerprint(df).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_cosine_topk_arrow_matches_sql(embeddings):
    q = [float(i % 7) for i in range(64)]
    a = similarity.cosine_topk(embeddings, q, k=10, impl="sql").collect()
    b = similarity.cosine_topk(embeddings, q, k=10, impl="arrow").collect()
    assert [r["vec_id"] for r in a] == [r["vec_id"] for r in b]
    for x, y in zip(a, b):
        assert x["cosine"] == pytest.approx(y["cosine"], rel=1e-12)


def test_bpe_token_count(spark):
    df = spark.createDataFrame(
        [("it's a test, isn't it? 42 times!",), ("hello   world",), ("",)],
        ["text"])
    rows = {r["text"]: r["n"] for r in df.select(
        "text", text.bpe_token_count(F.col("text")).alias("n")).collect()}
    # 'it'|'s|' a'|' test'|','|' isn'|''|'t'|' it'|'?'|' 42'|' times'|'!'
    assert rows["it's a test, isn't it? 42 times!"] == 12
    assert rows["hello   world"] == 2
    assert rows[""] == 0


def test_sessionize(spark):
    from whylogs_spark.ops import events as ev

    import datetime
    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    df = spark.createDataFrame(
        [(1, ts(0)), (1, ts(10)), (1, ts(50)), (1, ts(55)),
         (2, ts(0))],
        ["user_id", "ts"])
    s = ev.sessionize(df, gap="30 minutes")
    sessions = {tuple(r) for r in
                s.select("user_id", "ts", "session_id").collect()}
    by_sid = {}
    for u, t, sid in sessions:
        by_sid.setdefault(sid, []).append(t)
    # user 1: events at 0,10 in session 1; 50,55 in session 2
    assert len(by_sid) == 3
    stats = ev.session_stats(df, gap="30 minutes")
    rows = {r["session_id"]: r for r in stats.collect()}
    assert rows["1#1"]["n_events"] == 2
    assert rows["1#1"]["duration_sec"] == 600.0
    assert rows["1#2"]["n_events"] == 2
    assert rows["2#1"]["n_events"] == 1


def test_simhash_neardup_pairs(spark):
    # long doc with a large vocabulary: one changed token barely moves
    # the per-bit votes, so the near-dup lands within hamming <= 3
    words = [f"token{i}" for i in range(150)]
    base = " ".join(words)
    near = " ".join(words[:-1] + ["changed0"])
    other = " ".join(f"other{i}" for i in range(150))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"])
    sigs = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash_signatures(df).collect()}

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert ham(sigs[1], sigs[2]) <= 3       # construction sanity
    assert ham(sigs[1], sigs[3]) > 10
    pairs = dedup.simhash_neardup_pairs(df, max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == ham(sigs[1], sigs[2])


def test_tfidf_top_terms(spark):
    from whylogs_spark.ops.text import tf_idf_top_terms

    df = spark.createDataFrame(
        [(1, "apple banana apple cherry"),
         (2, "banana cherry cherry date"),
         (3, "apple zebra")],
        "doc_id long, text string")
    out = tf_idf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"]))
    # zebra is unique to doc 3 -> highest idf there; apple shared with 1
    assert sorted(by_doc[3]) == [(1, "zebra"), (2, "apple")]
    # doc 1: apple tf=2 beats cherry/banana tf=1
    assert by_doc[1][0] == (1, "apple") or sorted(by_doc[1])[0] == (1, "apple")
    assert all(len(v) == 2 for v in by_doc.values())
    # every rank is 1..2 and scores are positive
    assert all(r["tfidf"] > 0 for r in out)


def test_line_dedup_first_occurrence_wins(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha\nboiler\nbravo"),
            (2, "boiler\ncharlie"),
            (3, "boiler\nboiler\ndelta"),
            (4, "boiler"),
        ],
        "doc_id long, text string",
    )
    from whylogs_spark.ops.dedup import line_dedup

    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    # doc 1 holds the first 'boiler' -> untouched
    assert out[1]["text"] == "alpha\nboiler\nbravo"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 3)
    # later occurrences dropped, order of survivors preserved
    assert out[2]["text"] == "charlie"
    assert out[3]["text"] == "delta"
    assert (out[3]["n_lines"], out[3]["n_kept"]) == (3, 1)
    # a doc can empty out but stays present by default
    assert out[4]["text"] == "" and out[4]["n_kept"] == 0

    kept = line_dedup(docs, drop_empty_docs=True)
    assert kept.filter("doc_id = 4").count() == 0


def test_line_dedup_plan_skew_immune(spark):
    """Winner selection must be a partial-aggregated groupBy, never a
    window over the raw line text (a boilerplate line in 10% of a web
    corpus would funnel 10% of all rows into one task)."""
    from whylogs_spark.ops.dedup import line_dedup

    docs = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    plan = Plan.of(line_dedup(docs))
    assert not plan.has(named("Window"))
    # survivor marking joins on the unique (line, id, pos) triple
    assert plan.has(named("Join"))


def test_sessionize_hot_user_buckets_equivalent(spark):
    """Two-phase bucketed sessionization must assign EXACTLY the
    single-phase session ids — including sessions spanning several
    buckets (chained bridges), empty buckets between events, and
    boundary events exactly `gap` apart (tie: same session)."""
    import datetime as dt
    import random

    from whylogs_spark.ops import events as ev

    rnd = random.Random(23)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(4):
        t = 0
        for i in range(200):
            # mix: dense runs (sessions spanning buckets) + long gaps
            t += rnd.choice([30, 60, 300, 1799, 1800, 1801, 90_000])
            rows.append((u, base + dt.timedelta(seconds=t), u * 1000 + i))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, e long")

    plain = ev.sessionize(df, gap="30 minutes")
    for bucket in ("15 minutes", "1 hour", "7 days"):
        two = ev.sessionize(df, gap="30 minutes",
                            hot_user_buckets=bucket)
        a = {r["e"]: r["session_id"] for r in plain.collect()}
        b = {r["e"]: r["session_id"] for r in two.collect()}
        assert a == b, bucket

    sa = {(r["user_id"], r["session_id"]): (r["n_events"],
                                            r["duration_sec"])
          for r in ev.session_stats(df, gap="30 minutes").collect()}
    sb = {(r["user_id"], r["session_id"]): (r["n_events"],
                                            r["duration_sec"])
          for r in ev.session_stats(
              df, gap="30 minutes",
              hot_user_buckets="1 hour").collect()}
    assert sa == sb


def test_sessionize_bucketed_ntz_dst_safe(spark):
    """NTZ bucket ids must come from wall-clock arithmetic: under a
    non-UTC session tz, cast('timestamp') maps the nonexistent
    spring-forward hour non-monotonically, which would disagree with
    event order and corrupt the bridge/prefix session ids."""
    import pyspark.sql.functions as F

    from whylogs_spark.ops import events as ev

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        # one event every 20 wall-clock minutes across the 2024-03-10
        # 02:00-03:00 nonexistent hour: a single unbroken session
        rows = [(1, f"2024-03-10 0{1 + (m // 60)}:{m % 60:02d}:00", i)
                for i, m in enumerate(range(0, 180, 20))]
        df = spark.createDataFrame(rows, "user_id long, s string, e long") \
            .select("user_id",
                    F.col("s").cast("timestamp_ntz").alias("ts"), "e")
        plain = ev.sessionize(df, gap="30 minutes")
        two = ev.sessionize(df, gap="30 minutes",
                            hot_user_buckets="1 hour")
        a = {r["e"]: r["session_id"] for r in plain.collect()}
        b = {r["e"]: r["session_id"] for r in two.collect()}
        assert a == b
        assert set(b.values()) == {"1#1"}  # one wall-clock session
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_sessionize_bucketed_plan_keys_on_bucket(spark):
    """The event-proportional window must partition by (user, bucket),
    bounding any task at one user-bucket slice."""
    import datetime as dt

    from whylogs_spark.ops import events as ev

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 0)], "user_id long, ts timestamp, e long")
    out = ev.sessionize(df, hot_user_buckets="1 day")
    assert Plan.of(out).has(None, "__sb")


def test_chunk_text_semantics_and_plan(spark):
    """Every char covered, consecutive chunks share `overlap` chars,
    short/empty docs behave, and the plan is a shuffle-free generator
    projection."""
    from whylogs_spark.ops.text import chunk_text

    df = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "ab"), (3, ""), (4, "q" * 10)],
        "doc_id long, text string")
    out = chunk_text(df, size=4, overlap=1).collect()
    by = {}
    for r in out:
        by.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_start"], r["chunk"]))
    for v in by.values():
        v.sort()
    # stride=3: starts 0,3,6; last chunk short
    assert by[1] == [(0, 0, "abcd"), (1, 3, "defg"), (2, 6, "gh")]
    assert by[2] == [(0, 0, "ab")]          # shorter than size: 1 chunk
    assert 3 not in by                      # empty doc: no chunks
    assert len(by[4]) == 3                  # ceil((10-1)/3) = 3
    # coverage + overlap invariants on the reassembled text
    text = "abcdefgh"
    rebuilt = "".join(c[2][1 if i else 0:]
                      for i, c in enumerate(by[1]))  # drop 1-char overlap
    assert rebuilt == text

    with pytest.raises(ValueError, match="overlap"):
        chunk_text(df, size=4, overlap=4)
    with pytest.raises(ValueError, match="size"):
        chunk_text(df, size=0)

    plan = Plan.of(chunk_text(df, size=4, overlap=1))
    assert not plan.has(named("Exchange")) and plan.has("Generate")


def test_duplicate_spans_semantics(spark):
    from whylogs_spark.ops.dedup import duplicate_spans

    # docs 1 and 2 share the passage "p q r s t u"; doc 3 is unique
    shared = "p q r s t u"
    docs = spark.createDataFrame(
        [(1, f"a b c {shared} x y z"),
         (2, f"m n {shared} k l o w"),
         (3, "entirely different words with no overlap here at all")],
        "doc_id long, text string")
    out = {(r["doc_id"], r["span_start"], r["span_end"]):
           (r["span_tokens"], r["n_dup_grams"])
           for r in duplicate_spans(docs, n=3).collect()}
    # doc 1: shared passage is tokens 3..8 -> 3-gram starts 3..6
    assert out[(1, 3, 8)] == (6, 4)
    # doc 2: tokens 2..7
    assert out[(2, 2, 7)] == (6, 4)
    assert not any(k[0] == 3 for k in out)

    # within-one-doc repetition also counts (global count >= 2)
    rep = spark.createDataFrame(
        [(7, "u v w 1 2 3 u v w")], "doc_id long, text string")
    spans = duplicate_spans(rep, n=3).collect()
    assert {(r["span_start"], r["span_end"]) for r in spans} == \
        {(0, 2), (6, 8)}


def test_remove_duplicate_spans_keeps_first(spark):
    from whylogs_spark.ops.dedup import remove_duplicate_spans

    shared = "p q r s t u"
    docs = spark.createDataFrame(
        [(1, f"a b c {shared} x y z"),
         (2, f"m n {shared} k l o w"),
         (3, "short")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           remove_duplicate_spans(docs, n=3).collect()}
    # doc 1 holds the corpus-first occurrence -> untouched
    assert out[1]["text_clean"] == f"a b c {shared} x y z"
    assert out[1]["n_tokens_kept"] == out[1]["n_tokens"] == 12
    # doc 2 loses the shared passage, keeps its own words
    assert out[2]["text_clean"] == "m n k l o w"
    assert out[2]["n_tokens_kept"] == 6 and out[2]["n_tokens"] == 12
    # doc 3 too short for any gram -> passes through normalized
    assert out[3]["text_clean"] == "short"


def test_duplicate_spans_plan_skew_immune(spark):
    """The gram-frequency pass must partial-aggregate before its
    exchange (a viral passage's grams collapse map-side), and the only
    window may partition by doc id — never by the gram key."""
    from whylogs_spark.ops.dedup import duplicate_spans

    docs = spark.createDataFrame([(1, "a b c d e f g h i j k l")],
                                 "doc_id long, text string")
    plan = Plan.of(duplicate_spans(docs, n=3))
    # partial agg before final: two HashAggregate rounds on the gram key
    assert plan.count(named("HashAggregate")) >= 2
    # windows only over the doc id
    assert not plan.has(named("Window"), "windowspecdefinition(__gk")


def test_normalize_url_rules(spark):
    from whylogs_spark.ops.urls import normalize_url, registered_domain

    cases = [
        ("HTTPS://WWW.Example.COM:443/Path/?utm_source=x&b=2&a=1#frag",
         "https://example.com/Path?a=1&b=2"),
        ("http://example.com:80/", "http://example.com"),
        ("http://example.com", "http://example.com"),
        ("https://sub.Example.com:8443/a/b/?gclid=z",
         "https://sub.example.com:8443/a/b"),
        ("http://news.example.co/x?ref=rss&id=3&fbclid=q",
         "http://news.example.co/x?id=3"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in
           df.select(normalize_url(F.col("url"))).collect()]
    assert got == [e for _, e in cases]
    doms = [r[0] for r in
            df.select(registered_domain(F.col("url"))).collect()]
    assert doms == ["example.com", "example.com", "example.com",
                    "example.com", "example.co"]


def test_url_dedup_and_domain_stats(spark):
    from whylogs_spark.ops.urls import domain_stats, url_dedup

    rows = [
        (1, "http://a.com/page?utm_source=x"),
        (2, "HTTP://WWW.A.com:80/page"),        # same canonical as 1
        (3, "http://a.com/other"),
        (4, "http://b.org/p"),
        (5, "http://b.org/p#section"),           # same canonical as 4
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = {r["doc_id"] for r in url_dedup(df).collect()}
    assert kept == {1, 3, 4}

    stats = {r["domain"]: (r["n_pages"], r["n_unique_urls"],
                           r["n_dup_pages"])
             for r in domain_stats(df).collect()}
    assert stats == {"a.com": (3, 2, 1), "b.org": (2, 1, 1)}


def test_url_dedup_plan_skew_immune(spark):
    from whylogs_spark.ops.urls import url_dedup

    df = spark.createDataFrame([(1, "http://a.com/x")],
                               "doc_id long, url string")
    plan = Plan.of(url_dedup(df))
    assert not plan.has(named("Window"))
    assert plan.has(named("Join"))


def test_domain_filter_suffix_semantics(spark):
    from whylogs_spark.ops.urls import domain_filter

    rows = [
        (1, "http://spam.example/x"),
        (2, "http://ads.spam.example/y"),       # subdomain of entry
        (3, "http://notspam.example/z"),        # NOT a dot-suffix match
        (4, "http://ok.org/a"),
        (5, "https://www.OK.org:443/b"),        # www/case/port stripped
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    bl = spark.createDataFrame(
        [("spam.example",), (" OK.org ",)], "domain string")

    blocked = {r["doc_id"] for r in domain_filter(df, bl).collect()}
    assert blocked == {3}
    allowed = {r["doc_id"] for r in
               domain_filter(df, bl, mode="allow").collect()}
    assert allowed == {1, 2, 4, 5}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="mode"):
        domain_filter(df, bl, mode="nope")


def test_normalize_url_schemeless_no_collapse(spark):
    """Scheme-less/unparseable urls must NOT canonicalize onto one
    shared key (an earlier draft mapped them all to '://')."""
    from whylogs_spark.ops.urls import (normalize_url, registered_domain,
                                        url_dedup)

    rows = [(1, "example.com/a"), (2, "other.org/b"),
            (3, "http://real.net/c")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = [r[0] for r in df.select(normalize_url(F.col("url"))).collect()]
    assert got[0] != got[1]
    assert got[2] == "http://real.net/c"
    # dedup keeps all three (no shared fingerprint)
    assert {r["doc_id"] for r in url_dedup(df).collect()} == {1, 2, 3}
    # host parses host-first without a scheme
    doms = [r[0] for r in
            df.select(registered_domain(F.col("url"))).collect()]
    assert doms == ["example.com", "other.org", "real.net"]


def test_domain_filter_deep_host_exact_entry(spark):
    """A 7-label host must match its own exact-host entry despite the
    suffix-depth cap."""
    from whylogs_spark.ops.urls import domain_filter

    deep = "a.b.c.d.e.f.g"
    df = spark.createDataFrame(
        [(1, f"http://{deep}/x"), (2, "http://ok.org/y")],
        "doc_id long, url string")
    bl = spark.createDataFrame([(deep,)], "domain string")
    assert {r["doc_id"] for r in domain_filter(df, bl).collect()} == {2}


def test_sessionize_bucketed_date_and_string_ts(spark):
    """hot_user_buckets must behave on DATE and STRING time columns
    exactly like the single-phase plan (epoch_secs routes both through
    a timestamp cast; DATE->DOUBLE alone is not a valid cast)."""
    import datetime as dt

    from whylogs_spark.ops.events import sessionize

    rows = [(1, dt.date(2026, 1, d)) for d in (1, 2, 3, 8, 9)] + \
           [(2, dt.date(2026, 1, d)) for d in (4, 20)]
    df = spark.createDataFrame(rows, "user_id long, ts date")
    kw = dict(gap="2 days")
    single = {(r["user_id"], str(r["ts"]), r["session_id"])
              for r in sessionize(df, **kw).collect()}
    bucketed = {(r["user_id"], str(r["ts"]), r["session_id"])
                for r in sessionize(df, hot_user_buckets="4 days",
                                    **kw).collect()}
    assert single == bucketed and len(single) == 7

    dfs = df.select("user_id", F.col("ts").cast("string").alias("ts"))
    s2 = {(r["user_id"], r["ts"], r["session_id"])
          for r in sessionize(dfs, **kw).collect()}
    b2 = {(r["user_id"], r["ts"], r["session_id"])
          for r in sessionize(dfs, hot_user_buckets="4 days",
                              **kw).collect()}
    assert s2 == b2 and len(s2) == 7


def _spans_python_model(texts, n):
    """Independent reference implementation of duplicate_spans."""
    import re as _re
    from collections import Counter

    toks = {i: _re.sub(r"\s+", " ", t.strip().lower()).split(" ")
            for i, t in texts}
    grams = {}
    counts = Counter()
    for i, tk in toks.items():
        g = [tuple(tk[p:p + n]) for p in range(len(tk) - n + 1)] \
            if len(tk) >= n else []
        grams[i] = g
        counts.update(g)
    out = set()
    for i, g in grams.items():
        dup = [p for p, gr in enumerate(g) if counts[gr] >= 2]
        run = []
        for p in dup + [None]:
            if run and (p is None or p != run[-1] + 1):
                out.add((i, run[0], run[-1] + n - 1,
                         run[-1] - run[0] + n, len(run)))
                run = []
            if p is not None:
                run.append(p)
    return out


def test_duplicate_spans_random_corpora_vs_python_model(spark):
    """Ten seeded random corpora (tiny vocab -> dense duplicates,
    boundary-heavy shapes) must match an independent Python model
    exactly — catches islands/boundary bugs a single dataset misses."""
    import random

    from whylogs_spark.ops.dedup import duplicate_spans

    for seed in range(10):
        rng = random.Random(seed)
        vocab = [f"w{k}" for k in range(rng.choice([3, 5, 9]))]
        n = rng.choice([2, 3, 4])
        texts = [
            (i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 25))))
            for i in range(rng.randint(2, 12))
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        got = {(r["doc_id"], r["span_start"], r["span_end"],
                r["span_tokens"], r["n_dup_grams"])
               for r in duplicate_spans(df, n=n).collect()}
        want = _spans_python_model(texts, n)
        assert got == want, (seed, n, got ^ want)


def test_rollup_timeseries_matches_per_grain_groupby(spark):
    """One-pass GROUPING SETS rollup == three separate groupBy rollups
    (and null timestamps are excluded)."""
    import datetime as dt

    from whylogs_spark.ops.events import rollup_timeseries

    rows, t0 = [], dt.datetime(2024, 3, 28)  # spans a week boundary
    for i in range(500):
        rows.append(("a" if i % 3 else "b",
                     t0 + dt.timedelta(hours=i % 100, minutes=i % 7),
                     float(i % 13) - 3.0))
    rows.append(("a", None, 99.0))
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, value double")
    got = rollup_timeseries(
        df, "ts", value_cols=["value"], key_cols=["k"],
        grains=("hour", "day", "week")).collect()

    import pyspark.sql.functions as F
    for g in ("hour", "day", "week"):
        want = {tuple(r[:2]): r for r in df.filter("ts is not null")
                .groupBy("k", F.date_trunc(g, "ts").alias("b"))
                .agg(F.count("value").alias("n"),
                     F.sum("value").alias("s"),
                     F.min("value").alias("mn"),
                     F.max("value").alias("mx"),
                     F.avg("value").alias("av")).collect()}
        mine = [r for r in got if r.grain == g]
        assert len(mine) == len(want)
        for r in mine:
            w = want[(r.k, r.bucket_start)]
            assert (r.value_count, r.value_min, r.value_max) == \
                (w.n, w.mn, w.mx)
            assert r.value_sum == pytest.approx(w.s)
            assert r.value_avg == pytest.approx(w.av)

    with pytest.raises(ValueError, match="grains"):
        rollup_timeseries(df, "ts", grains=("fortnight",))
    with pytest.raises(ValueError, match="distinct"):
        rollup_timeseries(df, "ts", grains=("day", "day"))


def test_rollup_timeseries_single_grain_no_keys(spark):
    import datetime as dt

    from whylogs_spark.ops.events import rollup_timeseries

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 5, 30), 1.0),
         (dt.datetime(2024, 1, 1, 5, 45), 3.0),
         (dt.datetime(2024, 1, 2, 0, 0), 5.0)],
        "ts timestamp, value double")
    out = rollup_timeseries(df, "ts", grains=("day",)).collect()
    assert sorted((r.bucket_start.day, r.value_sum, r.grain)
                  for r in out) == [(1, 4.0, "day"), (2, 5.0, "day")]
