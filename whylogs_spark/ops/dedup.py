"""Deduplication operators for large-scale corpora.

Every operator returns a DataFrame plan:

* ``exact_dedup`` — hash-groupBy on a normalized fingerprint. One shuffle
  on the fingerprint; survives any scale (the shuffle key is the dedup
  key, skew only if the corpus is mostly one document).
* ``minhash_signatures`` / ``minhash_lsh_pairs`` / ``minhash_dedup`` —
  MinHash + LSH banding (Broder 1997; Leskovec et al., "Mining of Massive
  Datasets" ch.3). Signatures and shingle sets are computed in one
  shuffle-free Arrow pass per document batch (numpy over the gram
  hashes). Only band keys (docs × bands rows, each a few bytes) are
  shuffled; shingle sets meet only the verified-candidate join.
* ``simhash_signatures`` — 64-bit SimHash (Charikar 2002) via bit votes
  over md5 token hashes, again one Arrow pass.
* ``ngram_jaccard_pairs`` — exact n-gram Jaccard verification for a
  candidate pair set (used as the verify stage after LSH).
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whylogs_spark.core.util import ensure_parallelism, materialize, release

# Mixing constants for combining token hashes into n-gram hashes and the
# (a*x + b) mod 2^64 permutation family (a odd => bijective). Seeded so
# signatures are deterministic across runs/executors.
_GRAM_MIX = np.array([0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F,
                      0x165667B19E3779F9, 0x27D4EB2F165667C5,
                      0x85EBCA77C2B2AE63, 0xFF51AFD7ED558CCD,
                      0xC4CEB9FE1A85EC53, 0x2545F4914F6CDD1D],
                     dtype=np.uint64)


def _token_gram_hashes(text: str, n: int) -> np.ndarray:
    """Distinct 64-bit hashes of the word n-grams of normalized text.

    blake2b (C speed) hashes each token once; n-gram hashes combine the n
    token hashes with odd-constant multiplies + xor (vectorized numpy) —
    O(#tokens) string hashing, O(#tokens) vector work, no Python loop over
    grams."""
    import hashlib

    toks = " ".join((text or "").lower().split()).split(" ")
    th = np.frombuffer(
        b"".join(
            hashlib.blake2b(t.encode("utf-8", "surrogatepass"),
                            digest_size=8).digest()
            for t in toks
        ),
        dtype=np.uint64,
    )
    m = th.size - (n - 1)
    if m >= 1:
        g = th[0:m] * _GRAM_MIX[0]
        for j in range(1, n):
            g = g ^ (th[j:m + j] * _GRAM_MIX[j % len(_GRAM_MIX)])
    else:
        h = np.uint64(0)
        for x in th:
            h = (h * _GRAM_MIX[0]) ^ x
        g = np.array([h], dtype=np.uint64)
    return np.unique(g)


def normalized_text(c: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


# ------------------------------------------------------------------ exact
def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id document per distinct normalized text.

    Winner per fingerprint via a partial-aggregated groupBy(min) plus
    a semi-join on the unique (fingerprint, id) pair — NOT a window
    over the fingerprint: a hot fingerprint (millions of byte-identical
    boilerplate docs — precisely this operator's workload) collapses to
    one row per map partition before the exchange instead of funneling
    every copy into a single sort task.
    """
    with_fp = df.withColumn(
        "__fp", F.xxhash64(normalized_text(F.col(text_col))))
    winners = with_fp.groupBy("__fp").agg(
        F.min(F.col(id_col)).alias(id_col))
    return with_fp.join(
        winners, on=["__fp", id_col], how="leftsemi").drop("__fp")


def duplicate_stats(
    df: DataFrame, text_col: str = "text", group_by: Optional[List[str]] = None
) -> DataFrame:
    """Per-group duplicate statistics (n_docs, n_unique, n_dup_docs)."""
    fp = F.xxhash64(normalized_text(F.col(text_col))).alias("__fp")
    keys = group_by or []
    base = df.select(*keys, fp)
    agg = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("__fp").alias("n_unique"),
    )
    return agg.withColumn("n_dup_docs", F.col("n_docs") - F.col("n_unique"))


# ---------------------------------------------------------------- shingles
def word_shingles(c: Column, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text (empty-safe)."""
    toks = F.split(normalized_text(c), " ")
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(k >= 1, F.array_distinct(grams)).otherwise(
        F.array_distinct(F.array(F.concat_ws(" ", toks))))


def char_shingles(c: Column, n: int = 5) -> Column:
    t = normalized_text(c)
    k = F.length(t) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.substring(t, i, n),
    )
    return F.array_distinct(grams)


# ----------------------------------------------------------------- minhash
def _hash_lists(chunks: List[np.ndarray]) -> pa.ListArray:
    """One ``list<int64>`` row per document from its uint64 hashes."""
    return pa.ListArray.from_arrays(
        np.cumsum([0] + [len(g) for g in chunks]),
        pa.concat_arrays([pa.array(g.astype(np.int64)) for g in chunks])
        if chunks else pa.array([], pa.int64()))


def _minhash_kernel(num_hashes: int):
    """``signatures(gram_chunks) -> list<int64>`` array: per document,
    the minimum of each of ``num_hashes`` seeded (a*x + b) mod 2^64
    permutations of its gram hashes. The permutations are evaluated as
    one (num_hashes × grams) matrix with a single
    ``minimum.reduceat`` per batch."""
    rng = np.random.RandomState(0xD5)
    perm_a = (rng.randint(1, 2 ** 62, size=num_hashes, dtype=np.uint64)
              * np.uint64(2) + np.uint64(1))
    perm_b = rng.randint(0, 2 ** 63, size=num_hashes, dtype=np.uint64)

    def signatures(gram_chunks: List[np.ndarray]) -> pa.Array:
        starts = np.cumsum([0] + [g.size for g in gram_chunks])[:-1]
        allg = np.concatenate(gram_chunks)
        # wraparound uint64 arithmetic
        perm = perm_a[:, None] * allg[None, :] + perm_b[:, None]
        mins = np.minimum.reduceat(perm, starts, axis=1)
        return pa.array([row.tolist() for row in mins.astype(np.int64).T],
                        pa.list_(pa.int64()))

    return signatures


def _gram_pass(df: DataFrame, text_col: str, id_col: str, n: int,
               outputs: dict) -> DataFrame:
    """One shuffle-free Arrow pass over ``(id_col, text_col)``: each
    batch's documents become their distinct word-n-gram hashes
    (``_token_gram_hashes``), and each ``outputs`` entry, ``name ->
    (type, fn)``, adds column ``name`` as ``fn(gram_chunks)``."""
    out_schema = T.StructType([df.schema[id_col]] + [
        T.StructField(name, dt) for name, (dt, _) in outputs.items()])

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        np.seterr(over="ignore")
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            texts = tbl.column(text_col).to_pylist()
            if not texts:
                continue
            grams = [_token_gram_hashes(t, n) for t in texts]
            yield pa.RecordBatch.from_arrays(
                [tbl.column(id_col).combine_chunks()]
                + [fn(grams) for _, fn in outputs.values()],
                names=[id_col, *outputs])

    return ensure_parallelism(df.select(id_col, text_col)).mapInArrow(
        gen, out_schema)


_LONGS = T.ArrayType(T.LongType())


def shingle_hash_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
) -> DataFrame:
    """(id, shingles: array<long>) — sorted distinct word-n-gram hashes,
    computed Arrow-vectorized (see ``_token_gram_hashes``). Basis for
    exact-Jaccard verification; same gram definition as the signatures."""
    return _gram_pass(df, text_col, id_col, shingle_words,
                      {"shingles": (_LONGS, _hash_lists)})


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_words: int = 3,
) -> DataFrame:
    """(id, minhash_sig: array<long>[num_hashes]).

    One Arrow pass: blake2b token hashes, numpy gram combine, the
    num_hashes permutations (a_i*g + b_i over uint64) evaluated as one
    (num_hashes × grams) matrix with a single ``minimum.reduceat`` per
    batch. No shuffle at all: signatures are computed where the docs
    live.
    """
    return _gram_pass(df, text_col, id_col, shingle_words,
                      {"minhash_sig": (_LONGS, _minhash_kernel(num_hashes))})


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_words: int = 3,
) -> DataFrame:
    """(id, minhash_sig: array<long>, shingles: array<long>) — the
    persistable near-dup INDEX: everything the LSH pair machinery needs
    (band keys derive from the signature in-plan; exact-Jaccard verify
    reads the shingle sets), with the raw text left behind. Write this
    to Parquet once per ingested corpus and incremental runs never
    touch history text again.

    ONE Arrow pass computes both: the gram hashes are shared between
    the signature permutations and the shingle sets (halves the
    tokenize+hash work vs running ``minhash_signatures`` and
    ``shingle_hash_sets`` separately).
    """
    return _gram_pass(df, text_col, id_col, shingle_words, {
        "minhash_sig": (_LONGS, _minhash_kernel(num_hashes)),
        "shingles": (_LONGS, _hash_lists)})


def _band_structs(num_hashes: int, bands: int,
                  sig_col: str = "minhash_sig") -> Column:
    """In-plan LSH band keys: array of (band, bucket=xxhash64 of the
    band's signature rows) structs, derived from the signature column."""
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.col(sig_col)[b * rows_per_band + r]
                        for r in range(rows_per_band)
                    ]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )


def lsh_pairs_from_index(
    idx: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 2048,
) -> DataFrame:
    """Verified near-dup pairs from a :func:`minhash_index` frame —
    the banding + in-bucket expansion + exact-Jaccard verify core of
    ``minhash_lsh_pairs``, reusable against a PERSISTED index (no
    re-tokenization of the corpus). The banding side reads only the
    signature column and the verify side only the shingle column, so a
    Parquet-backed index scans each column once, pruned.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    return _lsh_verified_pairs(idx, idx, id_col, num_hashes, bands,
                               jaccard_threshold, max_bucket)


def _lsh_verified_pairs(
    sig_df: DataFrame,
    shingle_df: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    jaccard_threshold: float,
    max_bucket: int = 2048,
) -> DataFrame:
    """Band `sig_df` (needs ``minhash_sig``), expand in-bucket pairs,
    verify exact Jaccard against `shingle_df` (needs ``shingles``).
    Taking the two inputs separately lets the one-shot path feed the
    cheap signature-only / shingle-only Arrow passes instead of
    evaluating a combined index pass twice (the banding side would
    materialize every shingle list it never reads, and the verify side
    would recompute the full permutation matrix)."""
    banded = sig_df.select(
        F.col(id_col).alias("__id"),
        F.explode(_band_structs(num_hashes, bands)).alias("bb"),
    ).select("__id", "bb.band", "bb.bucket")

    # One shuffle: group bucket members, expand in-bucket pairs with
    # higher-order funcs. Buckets larger than `max_bucket` are dropped
    # (their members are near-certain dups of each other AND of smaller
    # buckets' members via other bands; at 100 TB an O(bucket²) expansion
    # of a degenerate bucket would dominate the job).
    ids = F.array_sort(F.collect_list("__id"))
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(ids.alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    pairs = (
        grouped.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )

    shingled = shingle_df.select(F.col(id_col).alias("__id"),
                                 F.col("shingles").alias("__sh"))
    return (
        pairs.join(
            shingled.withColumnRenamed("__id", "id_a")
            .withColumnRenamed("__sh", "sh_a"),
            "id_a",
        )
        .join(
            shingled.withColumnRenamed("__id", "id_b")
            .withColumnRenamed("__sh", "sh_b"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding + exact verify.

    rows/bands r=num_hashes/bands -> s-curve threshold ~ (1/b)^(1/r).
    Shuffle volume: docs x bands band-key rows, then the (small) candidate
    pair set joins back to shingle sets for exact Jaccard — the join is on
    ids, broadcast-able when candidates are few.

    Signatures for banding and shingle sets for the verify join are
    computed by SEPARATE single-purpose Arrow passes
    (:func:`minhash_signatures` / :func:`shingle_hash_sets`) — measured
    faster than evaluating a combined :func:`minhash_index` pass on both
    sides of the pair machinery, since each side then carries only the
    column it consumes. Persisted-index runs use
    :func:`lsh_pairs_from_index` instead.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    sig = minhash_signatures(df, text_col, id_col, num_hashes,
                             shingle_words)
    sh = shingle_hash_sets(df, text_col, id_col, shingle_words)
    return _lsh_verified_pairs(sig, sh, id_col, num_hashes, bands,
                               jaccard_threshold)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_edge_cap: int = 2_000_000,
) -> DataFrame:
    """(node, component) — single-link transitive closure of a pair set;
    component = min node id of the connected component.

    The verified pair graph is orders of magnitude smaller than the
    corpus (it only contains near-duplicates that survived banding AND
    exact verification), so up to ``driver_edge_cap`` edges it is
    collected and closed with a driver-side union-find — ONE job instead
    of 3 jobs x rounds. Past the cap it falls back to distributed
    min-label propagation: each round every node adopts the smallest
    label among itself and its neighbors (join + groupBy-min, both keyed
    on node ids); labels jump along shortcuts from earlier rounds, so
    convergence is O(log(diameter)) rounds — the large-star/small-star
    shape of Kiveris et al. (2014) with both stars fused into the
    groupBy-min. Each round is materialized so lineage stays O(1).
    """
    # materialize the (small) edge list once; both the driver path and
    # the distributed fallback read from this checkpoint, so the LSH +
    # verify pipeline upstream never recomputes
    probe = materialize(pairs.select(F.col(id_a).alias("u"),
                                     F.col(id_b).alias("v")))
    head = probe.limit(driver_edge_cap + 1).collect() \
        if driver_edge_cap else []
    if driver_edge_cap and len(head) <= driver_edge_cap:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for r in head:
            u, v = r["u"], r["v"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:  # union by min id: the root IS the component
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        rows = [(n, find(n)) for n in parent]
        spark = pairs.sparkSession
        schema = probe.schema
        release(probe)
        return spark.createDataFrame(
            rows or [], f"node {schema[0].dataType.simpleString()}, "
                        f"component {schema[1].dataType.simpleString()}")

    edges = materialize(
        probe.union(probe.select(F.col("v").alias("u"),
                                 F.col("u").alias("v")))
        .distinct()
    )
    release(probe)
    labels = cut = materialize(
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    try:
        for _ in range(max_iter):
            # label(u) <- min(label(u), min over neighbors v of label(v))
            neigh = (
                edges.join(labels.withColumnRenamed("node", "v"), "v")
                .groupBy(F.col("u").alias("node"))
                .agg(F.min("component").alias("nbr_min"))
            )
            updated = materialize(
                labels.join(neigh, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_min"), F.col("component")),
                    ).alias("component"),
                    (F.coalesce(F.col("nbr_min"), F.col("component"))
                     < F.col("component")).alias("__chg"),
                )
            )
            release(cut)
            cut = updated
            changed = updated.filter(F.col("__chg")).limit(1).count()
            labels = updated.drop("__chg")
            if changed == 0:
                break
    except BaseException:
        release(cut)
        raise
    finally:
        release(edges)
    return labels


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    jaccard_threshold: float = 0.8,
    reuse_signatures: bool = False,
) -> DataFrame:
    """Drop near-duplicates: single-link clusters of verified pairs
    collapse to their minimum-id survivor.

    Full transitive closure over the verified pair graph (see
    ``connected_components``): a 3-hop chain a~b~c~d keeps only a, even
    when a and d share no band. The closure runs on the (small) verified
    pair set, never on the corpus.

    Exact duplicates are ALWAYS pre-collapsed before the LSH machinery:
    byte-identical texts have identical signatures and shingle sets, so
    each one is a guaranteed jaccard-1 pair of its group's min-id
    representative and lands in the same component — running the
    banding/verify stages on distinct texts only keeps the survivor
    set (min id per single-link cluster) unchanged in every
    non-degenerate case, while shrinking the in-bucket pair
    expansion QUADRATICALLY in the replica
    multiplicity.  Replica-heavy web corpora are the norm at scale, and
    an f-way replicated document would otherwise contribute f² verify
    pairs per neighbor.  The collapse key is md5 of the raw text
    (exact-byte equality — strictly safe for gram identity; the
    whitespace-normalized near-miss still goes through MinHash).
    One degenerate divergence: when an exact-duplicate group is so
    replicated that its LSH buckets used to exceed ``max_bucket``,
    the OLD pipeline dropped those buckets and let byte-identical
    copies survive; the collapsed path always merges exact
    duplicates, so it dedups strictly MORE in that case (the
    behavior users want, but not bit-identical to pre-collapse).

    ``reuse_signatures=True`` computes ONE combined
    :func:`minhash_index` pass (gram hashes shared between signature
    permutations and shingle sets) and ``persist()``s it across the
    banding pass and the two verify-join branches — 3 corpus
    tokenizations become 1. Identical output; opt-in because the cached
    index holds the corpus's signatures + shingle sets in executor
    memory (fine whenever the corpus fits the cluster's storage
    fraction; the default streams instead).  The cache is released
    before returning — the closure materializes the edge list eagerly,
    so the returned anti-join plan no longer references it.
    """
    # exact pre-collapse: (id -> group rep) map + distinct-text corpus.
    # Null texts share a sentinel key (an equi-join would drop null
    # keys): grouping them is correct — they all tokenize to the same
    # single empty gram and are mutual jaccard-1 duplicates.
    keyed = df.select(
        F.col(id_col),
        F.coalesce(F.md5(F.col(text_col)),
                   F.lit("__null_text__")).alias("__tkey"))
    # checkpoint the (tkey, rep) table: THREE downstream branches
    # (banding signatures + two verify joins) consume `uniq`, and
    # without the cut each would re-run the corpus-wide md5 groupBy —
    # measured as a 2x task-second regression on low-duplication
    # corpora where the collapse itself wins nothing
    rep = materialize(
        keyed.groupBy("__tkey").agg(F.min(id_col).alias("__rep")))
    id_to_rep = keyed.join(rep, "__tkey").select(id_col, "__rep")
    # broadcast the winner-id set into each consuming branch ONLY when
    # it is provably small: explicit broadcast hints are honored
    # unconditionally (AQE never demotes them), and on low-duplication
    # corpora `rep` is ~corpus-cardinality — an unconditional hint
    # would OOM the driver at exactly the web scale this op targets.
    # rep is already materialized, so the count is a cheap block scan;
    # above the cap the planner picks the join.
    winners = rep.select(F.col("__rep").alias(id_col))
    if rep.count() <= 4_000_000:
        winners = F.broadcast(winners)
    uniq = df.join(winners, id_col, "left_semi")

    if reuse_signatures:
        idx = minhash_index(uniq, text_col, id_col, num_hashes,
                            shingle_words).persist()
        try:
            pairs = _lsh_verified_pairs(
                idx, idx, id_col, num_hashes, bands,
                jaccard_threshold)
            # connected_components materializes the edge list
            # EAGERLY, so every idx-dependent job has run by the time
            # it returns and the unpersist below is safe
            comp = connected_components(pairs, "id_a", "id_b")
        finally:
            idx.unpersist()
    else:
        pairs = minhash_lsh_pairs(
            uniq, text_col, id_col, num_hashes, bands, shingle_words,
            jaccard_threshold)
        comp = connected_components(pairs, "id_a", "id_b")
    # survivor iff id == final cluster winner: the rep's component
    # label when the rep joined any verified pair, else the rep itself.
    # rep = min id of its exact-dup group and component = min rep, so
    # the composition is the min id over the full single-link cluster —
    # exactly the uncollapsed semantics.
    final = (
        id_to_rep.join(comp, id_to_rep["__rep"] == comp["node"], "left")
        .select(id_col,
                F.coalesce("component", "__rep").alias("__final"))
    )
    survivors = final.filter(F.col(id_col) == F.col("__final")) \
        .select(id_col)
    return df.join(survivors, id_col, "left_semi")


# ---------------------------------------------------------- n-gram jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    char: bool = False,
    threshold: float = 0.0,
    max_doc_freq: int = 4096,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for ALL candidate pairs sharing at
    least one n-gram (inverted-index join — never a full cross product).

    Explodes distinct n-grams, self-joins on the gram (the inverted
    index), counts shared grams per pair, then |A∪B| = |A|+|B|-|A∩B|.

    Scale guard: a gram shared by f documents emits f² join rows, so one
    stopword-ish gram in a web corpus would dominate the job. Grams with
    document frequency > ``max_doc_freq`` are dropped from the inverted
    index. The DF guard itself is skew-immune: ``groupBy(gram).count()``
    partial-aggregates map-side (a boilerplate gram ships one row per
    map partition, never its f occurrences to one task), the over-cap
    gram set — tiny by construction, it only holds grams more frequent
    than the cap — is broadcast back as an anti-join filter.
    Exact whenever no gram exceeds the cap; beyond it, a capped gram can
    only LOWER a pair's reported intersection (|A|,|B| still count it),
    i.e. reported jaccard is a lower bound — near-dup pairs still
    surface via their many rare shared grams. Set ``max_doc_freq=None``
    for strict exactness on verify-stage corpora.
    """
    gram_fn = char_shingles if char else word_shingles
    grams = ensure_parallelism(df).select(
        F.col(id_col).alias("__id"),
        gram_fn(F.col(text_col), n).alias("__g"),
    ).withColumn("__sz", F.size("__g"))
    exploded = grams.select(
        "__id", "__sz", F.explode("__g").alias("gram"))
    if max_doc_freq is not None:
        # partial-aggregated DF count, then broadcast the (tiny)
        # over-cap gram set as an anti-join — the hot gram the guard
        # exists for never converges on a single partition
        overcap = (
            exploded.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_freq)
            .select("gram")
        )
        exploded = exploded.join(
            F.broadcast(overcap), on="gram", how="left_anti")
    joined = (
        exploded.alias("x")
        .join(
            exploded.alias("y"),
            (F.col("x.gram") == F.col("y.gram"))
            & (F.col("x.__id") < F.col("y.__id")),
        )
        .groupBy(
            F.col("x.__id").alias("id_a"),
            F.col("y.__id").alias("id_b"),
            F.col("x.__sz").alias("sz_a"),
            F.col("y.__sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        joined.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------- embedding-cosine near-dup
def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    exact: bool = False,
    tables: int = 16,
    planes: int = 8,
    max_bucket: int = 2048,
) -> DataFrame:
    """Pairs with cosine similarity >= threshold.

    Default (``exact=False``): multi-table random-hyperplane LSH —
    candidates are pairs sharing a (table, bucket) key in ANY of
    ``tables`` tables (shuffle = rows × tables small keys, degenerate
    buckets capped at ``max_bucket``), then an exact cosine verify of
    candidates only. Recall 1-(1-(1-θ/π)^planes)^tables — for
    threshold 0.9 (θ≈26°) with 16×8 defaults that is >0.999; every
    emitted pair is exact-verified, so precision is 1.

    ``exact=True``: the O(n²) self-join baseline verifier — ground truth
    for recall tests and small reference sets; never the corpus path.
    """
    if not exact:
        from whylogs_spark.ops.similarity import with_lsh_buckets

        dim = len(df.select(vec_col).first()[0])
        b = with_lsh_buckets(
            ensure_parallelism(df), vec_col, tables, planes, dim)
        norm = F.sqrt(F.aggregate(
            F.col(vec_col).cast("array<double>"),
            F.lit(0.0), lambda a, x: a + x * x))
        keys = F.array(*[
            F.struct(F.lit(t).alias("tbl"),
                     F.col("lsh_buckets")[t].alias("bkt"))
            for t in range(tables)
        ])
        banded = b.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            norm.alias("__n"),
            F.explode(keys).alias("kk"),
        ).select("__id", "__v", "__n",
                 F.col("kk.tbl").alias("tbl"), F.col("kk.bkt").alias("bkt"))
        members = F.collect_list(F.struct("__id", "__v", "__n"))
        grouped = (
            banded.groupBy("tbl", "bkt")
            .agg(members.alias("ms"))
            .filter((F.size("ms") > 1) & (F.size("ms") <= max_bucket))
        )
        pair_arr = F.flatten(
            F.transform(
                F.col("ms"),
                lambda x, i: F.transform(
                    F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                    lambda y: F.struct(
                        F.least(x["__id"], y["__id"]).alias("id_a"),
                        F.greatest(x["__id"], y["__id"]).alias("id_b"),
                        (F.aggregate(
                            F.zip_with(
                                x["__v"], y["__v"],
                                lambda a, c: a.cast("double")
                                * c.cast("double")),
                            F.lit(0.0), lambda a, c: a + c)
                         / (x["__n"] * y["__n"])).alias("cosine")),
                ),
            )
        )
        return (
            grouped.select(F.explode(pair_arr).alias("p"))
            .select("p.id_a", "p.id_b", "p.cosine")
            .filter(F.col("cosine") >= threshold)
            .dropDuplicates(["id_a", "id_b"])
        )
    norm = F.sqrt(F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double")))
    vecs = ensure_parallelism(df).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        norm.alias("__n"),
    )
    pairs = (
        vecs.alias("x")
        .join(vecs.alias("y"), F.col("x.__id") < F.col("y.__id"))
        .withColumn(
            "cosine",
            F.aggregate(
                F.zip_with(
                    F.col("x.__v"), F.col("y.__v"),
                    lambda a, b: a.cast("double") * b.cast("double")),
                F.lit(0.0), lambda a, x: a + x)
            / (F.col("x.__n") * F.col("y.__n")),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("x.__id").alias("id_a"),
            F.col("y.__id").alias("id_b"),
            "cosine",
        )
    )
    return pairs


# ----------------------------------------------------------------- simhash
def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, simhash: long) — 64-bit SimHash over whitespace tokens.

    For each bit position b: vote = sum over tokens of
    (+1 if bit b of hash(token) else -1); bit set if vote > 0.

    The token hash is the first 8 bytes (big-endian) of md5 — chosen
    because every engine agrees on md5, so signatures are reproducible
    bit-for-bit outside Spark (the correctness gate recomputes them in
    pure SQL; see ``__spark_entry__`` simhash oracles).

    One shuffle-free Arrow pass: C-speed md5 token hashes, the 64
    bit-votes evaluated as one (64 × tokens) matrix with a single
    ``add.reduceat`` per batch.
    """
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [id_field, T.StructField("simhash", T.LongType())])

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import hashlib

        np.seterr(over="ignore")
        shifts = np.arange(64, dtype=np.uint64)
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            texts = tbl.column(text_col).to_pylist()
            if not texts:
                continue
            tok_chunks = []
            for t in texts:
                toks = " ".join((t or "").lower().split()).split(" ")
                tok_chunks.append(np.frombuffer(
                    b"".join(
                        hashlib.md5(
                            s.encode("utf-8", "surrogatepass")
                        ).digest()[:8]
                        for s in toks),
                    dtype=">u8").astype(np.uint64))
            starts = np.cumsum(
                [0] + [c.size for c in tok_chunks])[:-1]
            allh = np.concatenate(tok_chunks)
            counts = np.array([c.size for c in tok_chunks])
            # (64, tokens) 0/1 matrix; per-doc ones via one reduceat
            bitmat = ((allh[None, :] >> shifts[:, None])
                      & np.uint64(1)).astype(np.int32)
            ones = np.add.reduceat(bitmat, starts, axis=1)
            set_bits = (2 * ones) > counts[None, :]   # vote > 0
            sig = np.zeros(len(texts), dtype=np.uint64)
            for b in range(64):
                sig |= set_bits[b].astype(np.uint64) << np.uint64(b)
            yield pa.RecordBatch.from_arrays(
                [tbl.column(id_col).combine_chunks(),
                 pa.array(sig.astype(np.int64))],
                names=[id_col, "simhash"])

    return ensure_parallelism(df.select(id_col, text_col)).mapInArrow(
        gen, out_schema)


def simhash_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures stored as longs."""
    x = a.bitwiseXOR(b)
    return F.bit_count(x)


def hamming_neardup_pairs(
    sigs: DataFrame,
    sig_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 2048,
) -> DataFrame:
    """Near-duplicate pairs over ANY 64-bit signature column (SimHash,
    perceptual image hashes, ...) — candidates via block banding,
    verified by exact hamming distance.

    Pigeonhole: splitting the 64-bit signature into 4 x 16-bit blocks,
    any pair with hamming <= 3 agrees exactly on at least one block — so
    grouping by (block_index, block_value) finds every such pair with one
    shuffle of (rows x 4) 10-byte rows. In-bucket pair expansion caps
    degenerate buckets like the MinHash path. Null signatures (e.g.
    undecodable images) are dropped first.

    Returns (id_a, id_b, hamming) with id_a < id_b, hamming <= max_hamming.
    """
    if max_hamming > 3:
        raise ValueError(
            "4-block banding guarantees recall only for max_hamming <= 3; "
            "band more blocks for larger radii")
    blocks = F.array(*[
        F.struct(
            F.lit(b).alias("blk"),
            F.shiftrightunsigned(F.col(sig_col), 16 * b)
            .bitwiseAND(F.lit(0xFFFF)).alias("val"),
        )
        for b in range(4)
    ])
    banded = sigs.filter(F.col(sig_col).isNotNull()).select(
        F.col(id_col).alias("__id"), F.col(sig_col).alias("__sig"),
        F.explode(blocks).alias("bb"),
    ).select("__id", "__sig", "bb.blk", "bb.val")

    members = F.array_sort(F.collect_list(F.struct("__id", "__sig")))
    grouped = (
        banded.groupBy("blk", "val")
        .agg(members.alias("ms"))
        .filter((F.size("ms") > 1) & (F.size("ms") <= max_bucket))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(
                    x["__id"].alias("id_a"), y["__id"].alias("id_b"),
                    simhash_hamming(x["__sig"], y["__sig"])
                    .alias("hamming")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: signatures via
    :func:`simhash_signatures`, pair join via the generic
    :func:`hamming_neardup_pairs` block banding.

    Returns (id_a, id_b, hamming) with id_a < id_b, hamming <= max_hamming.
    """
    sigs = simhash_signatures(df, text_col, id_col)
    return hamming_neardup_pairs(
        sigs, "simhash", id_col=id_col, max_hamming=max_hamming)


def image_neardup_pairs(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "path",
    method: str = "phash",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate IMAGE pairs: perceptual hashes (lib-free decode,
    one Arrow pass — ``ops.multimodal.with_image_hashes``) fed through
    the same Hamming block banding as the text SimHash path. ``method``
    picks the signature: 'phash' (DCT, robust to brightness/contrast),
    'ahash' (mean threshold), or 'dhash' (gradient sign, robust to
    uniform brightness shifts). Undecodable rows are excluded.

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    if method not in ("ahash", "dhash", "phash"):
        raise ValueError("method must be one of ahash/dhash/phash")
    from whylogs_spark.ops.multimodal import with_image_hashes

    sigs = with_image_hashes(df, content_col=content_col, id_col=id_col)
    return hamming_neardup_pairs(
        sigs, method, id_col=id_col, max_hamming=max_hamming)


# ------------------------------------------------------------- line dedup

def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
    drop_empty_docs: bool = False,
) -> DataFrame:
    """Corpus-wide exact line deduplication (the C4 / MassiveText /
    RefinedWeb preprocessing step: boilerplate lines — nav menus, cookie
    banners — repeat across millions of pages; keep each distinct line's
    FIRST occurrence corpus-wide, drop every other occurrence, reassemble
    documents from their surviving lines).

    Winner = smallest (id, position): deterministic, engine-independent.
    Returns (id_col, n_lines, n_kept, text) — ``text`` is the document
    rebuilt from surviving lines in original order (may be empty; such
    docs are kept unless ``drop_empty_docs``).

    Scale shape: posexplode (no shuffle) -> winner per line via
    ``groupBy(line).agg(min(struct(id, pos)))`` — partial aggregation
    collapses a boilerplate line to ONE row per map partition before
    the exchange, so the exact skew case this operator targets (a
    cookie-banner line in 10% of a web corpus) never funnels into a
    single task -> survivors marked by an equi-join on the (line, id,
    pos) TRIPLE, whose keys are unique (no skew; the winner side is one
    row per distinct line) -> ONE reassembly shuffle keyed by doc id.
    Never collects, never joins doc-to-doc, no window over the raw
    line text.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(delim), -1))
        .alias("__pos", "__line"),
    )
    return dedup_lines_long(lines, id_col=id_col, line_col="__line",
                            pos_col="__pos",
                            drop_empty_docs=drop_empty_docs, delim=delim)


def dedup_lines_long(
    lines: DataFrame,
    id_col: str = "doc_id",
    line_col: str = "line",
    pos_col: str = "pos",
    drop_empty_docs: bool = False,
    delim: str = "\n",
) -> DataFrame:
    """`line_dedup` over an already-exploded (id, pos, line) frame —
    the composable core, for corpora whose "lines" are produced by a
    custom segmenter (sentence splitter, token-window chunker).

    Winner selection is a partial-aggregated group-by (NOT a window
    over the line text): min(struct(id, pos)) is commutative, so each
    map task first collapses its local duplicates of a hot line — the
    exchange then carries at most (#partitions) rows per distinct line
    regardless of how many documents repeat it.

    NULL lines (possible from a custom segmenter; never produced by
    ``line_dedup``'s split) count toward ``n_lines`` but are never
    kept — the survivor join is null-rejecting by design."""
    winners = (
        lines.groupBy(line_col)
        .agg(F.min(F.struct(F.col(id_col).alias("i"),
                            F.col(pos_col).alias("p"))).alias("__w"))
        .select(
            F.col(line_col),
            F.col("__w.i").alias(id_col),
            F.col("__w.p").alias(pos_col),
            F.lit(1).alias("__keep"),
        )
    )
    # (line, id, pos) is unique on both sides -> skew-free equi-join
    marked = lines.join(winners, on=[line_col, id_col, pos_col], how="left")
    out = (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count("__keep").alias("n_kept"),
            F.concat_ws(
                delim,
                F.transform(
                    F.array_sort(F.collect_list(F.when(
                        F.col("__keep").isNotNull(),
                        F.struct(F.col(pos_col).alias("p"),
                                 F.col(line_col).alias("l"))))),
                    lambda s: s["l"],
                ),
            ).alias("text"),
        )
    )
    if drop_empty_docs:
        out = out.filter(F.col("n_kept") > 0)
    return out


# ------------------------------------------------- duplicate token spans
def _span_grams(df: DataFrame, n: int, id_col: str, text_col: str,
                exact: bool) -> DataFrame:
    """(id, pos, gram-key) for every position-anchored word n-gram of
    the normalized text. Key is xxhash64 of the gram by default — an
    8-byte shuffle key instead of the ~n-word string; ``exact=True``
    keys on the string itself (no collision risk, heavier shuffle)."""
    toks = F.split(normalized_text(F.col(text_col)), " ")
    base = df.select(
        F.col(id_col).alias("__id"), toks.alias("__toks")
    ).filter(F.size("__toks") >= n)
    gram = f"array_join(slice(__toks, i + 1, {n}), ' ')"
    key = gram if exact else f"xxhash64({gram})"
    return base.select(
        "__id",
        F.posexplode(F.expr(
            f"transform(sequence(0, size(__toks) - {n}), i -> {key})"
        )).alias("__pos", "__gk"),
    )


def duplicate_spans(
    df: DataFrame,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    exact: bool = False,
) -> DataFrame:
    """Maximal duplicated token spans per document (ExactSubstr-style;
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): a position belongs to a span when its word ``n``-gram
    occurs at least ``min_count`` times corpus-wide, and consecutive
    duplicated positions merge into one maximal span.

    Output: (doc_id, span_start, span_end, span_tokens, n_dup_grams)
    with token indices into the whitespace-normalized text.

    Scale plan: one corpus-wide shuffle keyed on the 8-byte gram hash
    (map-side partial agg computes the occurrence counts), an inner
    join back on the same key, then islands-and-gaps inside each
    document — the row_number window partitions by document id, so its
    skew bound is the longest single document, not any corpus-wide hot
    key. With the default ``exact=False``, two different grams
    colliding in xxhash64 would merge their counts (~2^-64 per pair;
    corpus-scale false-positive odds are negligible, and a span is only
    misreported if the collision crosses the min_count threshold).
    """
    grams = _span_grams(df, n, id_col, text_col, exact)
    dup = (
        grams.groupBy("__gk")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__gk")
    )
    marked = grams.join(dup, "__gk")
    w = Window.partitionBy("__id").orderBy("__pos")
    isl = marked.withColumn(
        "__grp", F.col("__pos") - F.row_number().over(w))
    return (
        isl.groupBy("__id", "__grp")
        .agg(
            F.min("__pos").cast("long").alias("span_start"),
            (F.max("__pos") + (n - 1)).cast("long").alias("span_end"),
            (F.max("__pos") - F.min("__pos") + n).cast("long")
            .alias("span_tokens"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select(F.col("__id").alias(id_col), "span_start", "span_end",
                "span_tokens", "n_dup_grams")
    )


def remove_duplicate_spans(
    df: DataFrame,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    exact: bool = False,
) -> DataFrame:
    """Cut duplicated token spans out of each document, keeping the
    corpus-first occurrence of every duplicated gram.

    The winner of a gram is its minimum (doc_id, pos) occurrence — that
    copy survives; every other occurrence position is removable, and
    maximal runs of removable positions are cut. One partial-aggregated
    groupBy computes both the occurrence count and the winner, so the
    whole operator costs one gram shuffle + one join + per-document
    islands, same scale shape as :func:`duplicate_spans`.

    Output: one row per input document — (id, text_clean, n_tokens,
    n_tokens_kept); text_clean is rebuilt from the whitespace-normalized
    tokens with removed spans excised. The final token filter is an
    in-plan lambda over (token index x spans-of-this-doc); documents
    with thousands of distinct removal spans pay O(tokens x spans) in
    that projection.
    """
    grams = _span_grams(df, n, id_col, text_col, exact)
    win = grams.groupBy("__gk").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(F.struct("__id", "__pos")).alias("__w"),
    ).filter(F.col("__c") >= min_count).select("__gk", "__w")
    removable = grams.join(win, "__gk").filter(
        ~((F.col("__id") == F.col("__w.__id"))
          & (F.col("__pos") == F.col("__w.__pos"))))
    w = Window.partitionBy("__id").orderBy("__pos")
    spans = (
        removable.withColumn(
            "__grp", F.col("__pos") - F.row_number().over(w))
        .groupBy("__id", "__grp")
        .agg(F.min("__pos").alias("s"),
             (F.max("__pos") + (n - 1)).alias("e"))
        .groupBy("__id")
        .agg(F.collect_list(F.struct("s", "e")).alias("__spans"))
    )
    toks = F.split(normalized_text(F.col(text_col)), " ")
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    joined = base.join(spans, "__id", "left")
    kept = F.expr(
        "CASE WHEN __spans IS NULL THEN __toks ELSE "
        "transform(filter(transform(__toks, (t, i) -> "
        "named_struct('t', t, 'i', i)), s -> NOT exists(__spans, "
        "p -> s.i >= p.s AND s.i <= p.e)), s -> s.t) END")
    return joined.select(
        F.col("__id").alias(id_col),
        F.array_join(kept, " ").alias("text_clean"),
        F.size("__toks").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_tokens_kept"),
    )


# ------------------------------------------- incremental dedup vs history

def build_bloom_filter(
    df: DataFrame,
    key_col: str,
    n_bits: int = 1 << 23,
    n_hashes: int = 5,
) -> DataFrame:
    """Build a Bloom filter over a (long-hash) key column as a SPARSE
    bit-packed word table: (word_idx long, word long), where bit ``p``
    of the conceptual m-bit array lives at ``word_idx = p >> 6``, bit
    ``p & 63``. Declarative construction — no driver-side bitmap:

      explode the ``n_hashes`` probe positions per key (xxhash64 with
      per-probe literal seeds, pmod n_bits) -> groupBy(word_idx) with a
      map-side-combining ``bit_or`` of the single-bit words.

    The shuffle is bounded at ``n_bits/64`` rows per partition no
    matter how many keys feed it, and the result (<= n_bits/64 rows,
    ~1 MB per 2^23 bits) broadcasts to any probe site. Classic sizing:
    ~10 bits/key => ~1% false-positive rate at ``n_hashes`` ~ 5-7.
    No false negatives ever — membership tests are exact-superset.
    """
    probes = F.array(*[
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(n_bits))
        for i in range(n_hashes)
    ])
    pos = df.select(F.explode(probes).alias("__pos"))
    one_bit = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))")
    return (
        pos.groupBy((F.col("__pos") / 64).cast("long").alias("word_idx"))
        .agg(F.bit_or(one_bit).alias("word"))
    )


def bloom_might_contain(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    n_bits: int = 1 << 23,
    n_hashes: int = 5,
    out_col: str = "might_contain",
) -> DataFrame:
    """Mark each row with whether its key is possibly in the Bloom
    filter (true superset of actual membership: false positives at the
    filter's design rate, never false negatives).

    ``n_bits``/``n_hashes`` MUST match ``build_bloom_filter``. Plan:
    ``n_hashes`` BROADCAST left joins against the <=n_bits/64-row word
    table — zero shuffle of ``df``; a missing word row means those 64
    bits are all zero, i.e. definitely-absent.
    """
    out = df
    cond = F.lit(True)
    for i in range(n_hashes):
        out = out.withColumn(
            f"__p{i}",
            F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(n_bits)))
        wi = f"__w{i}"
        probe = bloom.select(
            F.col("word_idx").alias(f"__wi{i}"),
            F.col("word").alias(wi))
        out = out.join(
            F.broadcast(probe),
            (F.col(f"__p{i}") / 64).cast("long") == F.col(f"__wi{i}"),
            "left")
        bit = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST(pmod(__p{i}, 64) AS INT))")
        cond = cond & F.coalesce(
            (F.col(wi).bitwiseAND(bit)) != 0, F.lit(False))
    out = out.withColumn(out_col, cond)
    return out.drop(*[c for i in range(n_hashes)
                      for c in (f"__p{i}", f"__wi{i}", f"__w{i}")])


def incremental_dedup(
    batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    strategy: str = "shuffle",
    bloom_bits: int = 1 << 23,
    bloom_hashes: int = 5,
) -> DataFrame:
    """Exact dedup of a new batch against an already-ingested corpus:
    keep batch rows whose normalized text appears neither in history
    nor earlier (lower ``id_col``) in the batch itself. The steady-state
    ingest operator — ``exact_dedup`` handles a one-shot corpus, this
    handles "10 TB arrived today against 100 TB already kept".

    Both sides key on ``xxhash64(normalized_text)``; in-batch winners
    use the partial-agg groupBy(min) + semi-join pattern (skew-immune,
    same as ``exact_dedup``).

    strategy='shuffle' (default): plain left-anti join on the
    fingerprint — both sides exchange on the 8-byte key. Right at any
    batch:history ratio; pair with a fingerprint store bucketed on the
    key and the history exchange disappears entirely.

    strategy='bloom': build a Bloom filter over the history
    fingerprints (one bounded aggregation — the only full history
    pass), probe the batch with broadcast joins (zero batch shuffle),
    and resolve only the flagged suspects: suspect fingerprints
    BROADCAST-semi-join against history (a scan, not a shuffle) to
    find true matches, which broadcast-anti back onto the suspects.
    History is never shuffled; total cost = one history aggregation
    pass + one history scan + broadcast-sized exchanges. This is the
    100 TB shape when the batch is small relative to history and
    mostly novel (typical crawl ingest: suspects = true dups + ~1%
    false positives must stay broadcastable). Results are EXACTLY the
    'shuffle' strategy's — the Bloom is a pure prefilter with no false
    negatives.
    """
    fp = F.xxhash64(normalized_text(F.col(text_col)))
    b = batch.withColumn("__fp", fp)
    h = history.select(fp.alias("__fp"))
    winners = b.groupBy("__fp").agg(F.min(F.col(id_col)).alias(id_col))
    b = b.join(winners, ["__fp", id_col], "leftsemi")
    if strategy == "bloom":
        bloom = build_bloom_filter(h, "__fp", bloom_bits, bloom_hashes)
        # the word table feeds one broadcast join PER probe hash, and
        # differently-aliased joins defeat ReusedExchange — without
        # this, Catalyst re-runs the history aggregation n_hashes
        # times. The table is bounded at n_bits/64 rows (~2 MB at the
        # 2^23 default), so materializing it once is the right trade
        # (measured 2.5x on the bench's incremental_dedup_bloom row).
        bloom = materialize(bloom)
        probed = bloom_might_contain(b, bloom, "__fp", bloom_bits,
                                     bloom_hashes, "__maybe")
        clean = probed.filter(~F.col("__maybe")).drop("__maybe")
        suspects = probed.filter(F.col("__maybe")).drop("__maybe")
        sus_fps = suspects.select("__fp").distinct()
        matched = h.join(F.broadcast(sus_fps), "__fp", "leftsemi") \
            .distinct()
        kept = suspects.join(F.broadcast(matched), "__fp", "left_anti")
        return clean.unionByName(kept).drop("__fp")
    if strategy != "shuffle":
        raise ValueError(f"unknown strategy {strategy!r}")
    return b.join(h, "__fp", "left_anti").drop("__fp")


def incremental_minhash_dedup(
    batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    jaccard_threshold: float = 0.8,
    strategy: str = "broadcast",
    max_bucket: int = 2048,
) -> DataFrame:
    """NEAR-duplicate dedup of a new batch against an already-ingested
    corpus — the fuzzy sibling of :func:`incremental_dedup`: keep batch
    rows with no verified Jaccard >= threshold match in history and no
    match to an EARLIER (lower ``id_col``) batch row.

    Greedy earlier-wins semantics (``incremental_dedup`` parity): a
    batch row is dropped when ANY lower-id batch row matches it, even
    if that row is itself dropped. For exact matching the greedy and
    component-min rules coincide; for near-dup they differ on chains —
    one-shot corpus dedup with full transitive closure is
    :func:`minhash_dedup`.

    ``history`` may be raw documents (re-indexed in one Arrow pass) or
    — the steady-state shape — a persisted :func:`minhash_index` frame
    (columns ``minhash_sig``/``shingles`` present), in which case
    history text is never touched.

    strategy='broadcast' (default, batch << history): every
    batch-derived frame (band keys, candidate ids, batch shingles)
    broadcasts, so history is only SCANNED — twice over the index
    (banding probe, shingle verify) plus one bounded aggregation that
    sizes only the PROBED buckets (bucket-cap guard; a degenerate
    history bucket is dropped before the O(bucket x hits) expansion,
    exactly like the in-corpus LSH cap).
    strategy='shuffle': plain equi-joins; AQE picks sides. Right when
    the batch is itself corpus-sized.
    """
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown strategy {strategy!r}")

    def _maybe_b(d: DataFrame) -> DataFrame:
        return F.broadcast(d) if strategy == "broadcast" else d

    idx_cols = {"minhash_sig", "shingles"}
    b_idx = (batch if idx_cols <= set(batch.columns)
             else minhash_index(batch, text_col, id_col, num_hashes,
                                shingle_words))
    # The batch index feeds FIVE plan branches (in-batch banding + its
    # two verify joins, the history probe keys, and the batch shingle
    # side): cut its lineage so the minhash pass runs once, not five
    # times.  No size gate: batch << history by contract, and the index
    # is strictly smaller than the text it summarizes.
    b_idx = materialize(b_idx)
    if idx_cols <= set(history.columns):
        # persisted index: each consumer below reads the column it
        # needs, pruned at the scan — nothing to materialize
        h_sig = h_sh_src = history
    else:
        # raw history is consumed ONCE per side; two single-purpose
        # Arrow passes (signature-only for the banding probe,
        # shingle-only for the verify join) beat one combined index
        # pass that would either run twice or be materialized at
        # history scale (r13; same split minhash_lsh_pairs uses)
        h_sig = minhash_signatures(history, text_col, id_col,
                                   num_hashes, shingle_words)
        h_sh_src = shingle_hash_sets(history, text_col, id_col,
                                     shingle_words)

    # earlier-in-batch losers: any verified pair (a < b) kills b
    in_batch = lsh_pairs_from_index(
        b_idx, id_col, num_hashes, bands, jaccard_threshold, max_bucket)
    losers_b = in_batch.select(F.col("id_b").alias(id_col)).distinct()

    # history matches: probe history band keys with the batch's
    bb = b_idx.select(
        F.col(id_col).alias("__bid"),
        F.explode(_band_structs(num_hashes, bands)).alias("bb"),
    ).select("__bid", "bb.band", "bb.bucket")
    hb = h_sig.select(
        F.col(id_col).alias("__hid"),
        F.explode(_band_structs(num_hashes, bands)).alias("bb"),
    ).select("__hid", "bb.band", "bb.bucket")

    keys = bb.select("band", "bucket").distinct()
    hb_hit = hb.join(_maybe_b(keys), ["band", "bucket"], "leftsemi")
    ok_buckets = (
        hb_hit.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__sz"))
        .filter(F.col("__sz") <= max_bucket)
        .select("band", "bucket")
    )
    cand = (
        hb_hit.join(_maybe_b(ok_buckets), ["band", "bucket"], "leftsemi")
        .join(_maybe_b(bb), ["band", "bucket"])
        .select("__hid", "__bid")
        .distinct()
    )

    h_sh = h_sh_src.select(F.col(id_col).alias("__hid"),
                           F.col("shingles").alias("__sh_h"))
    b_sh = b_idx.select(F.col(id_col).alias("__bid"),
                        F.col("shingles").alias("__sh_b"))
    jac = (
        F.size(F.array_intersect("__sh_h", "__sh_b")).cast("double")
        / F.size(F.array_union("__sh_h", "__sh_b"))
    )
    losers_h = (
        h_sh.join(_maybe_b(cand), "__hid")
        .join(_maybe_b(b_sh), "__bid")
        .filter(jac >= jaccard_threshold)
        .select(F.col("__bid").alias(id_col))
        .distinct()
    )

    losers = losers_b.unionByName(losers_h).distinct()
    return batch.join(_maybe_b(losers), id_col, "left_anti")


def cross_source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate LEAKAGE matrix between corpus slices: how many
    verified J >= threshold pairs connect each (slice, slice) cell —
    the audit that catches one source republishing another (mirror
    sites, syndication) and train/eval contamination when the split
    is a column.

    Returns (group_a, group_b, n_pairs) with group_a <= group_b
    (diagonal = within-slice near-dup mass). Pairs ride the standard
    :func:`minhash_index` -> :func:`lsh_pairs_from_index` machinery;
    the slice lookup joins the (small) verified pair set back to the
    (id, group) projection — broadcast-friendly.
    """
    idx = minhash_index(df, text_col, id_col, num_hashes,
                        shingle_words)
    pairs = lsh_pairs_from_index(idx, id_col, num_hashes, bands,
                                 jaccard_threshold)
    side = df.select(F.col(id_col), F.col(group_col))
    m = (
        pairs.join(side.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed(group_col, "__ga"), "id_a")
        .join(side.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed(group_col, "__gb"), "id_b")
    )
    ga = F.least("__ga", "__gb")
    gb = F.greatest("__ga", "__gb")
    return (
        m.select(ga.alias("group_a"), gb.alias("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("group_a", "group_b")
    )


# ------------------------------------------- within-document self-dedup

def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Remove REPEATED paragraphs/lines WITHIN each document, keeping
    the first occurrence in order (RefinedWeb-style intra-document
    repetition removal — navigation chrome, repeated boilerplate
    blocks, scraper stutter). Complements ``line_dedup``, which is
    corpus-global: this one needs no corpus state at all.

    Returns (id_col, text_clean, n_parts, n_parts_kept). Segments are
    compared exactly (after the split on ``sep``); blank segments are
    preserved as-is (they carry layout, and deduping them would glue
    unrelated paragraphs together).

    Scale shape: a pure codegen projection — split, order-preserving
    ``array_distinct`` (first-occurrence semantics), re-join. ZERO
    shuffle, no state, no Python; cost is linear in document length
    and embarrassingly parallel.

    ``sep`` is treated as a LITERAL separator (escaped before the
    regex split, so "||" or "." split where they appear, not as regex
    operators), matching the literal re-join.
    """
    import re as _re

    parts = F.split(F.col(text_col), _re.escape(sep))
    keep = F.filter(
        parts,
        lambda x, i: (F.length(F.trim(x)) == 0)
        | (F.array_position(parts, x) - 1 == i),
    )
    return df.select(
        F.col(id_col),
        F.array_join(keep, sep).alias("text_clean"),
        F.size(parts).cast("long").alias("n_parts"),
        F.size(keep).cast("long").alias("n_parts_kept"),
    )


# ------------------------------------------------- semantic dedup (SemDeDup)

def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_clusters: int = 64,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): remove SEMANTIC duplicates —
    documents whose embeddings are near-identical even when their text
    is not (templated articles, translations, near-paraphrases). The
    published recipe, composed from this engine's existing pieces:

      1. k-means partition the embedding space (``similarity.ivf_index``
         — bounded-sample fit, broadcast-centroid assignment);
      2. ONLY within each cluster, find pairs with cosine >= threshold
         (equi-join on the cluster id — the clustering is precisely
         what makes the quadratic step tractable: per-cluster cost is
         (n/k)^2, so pick ``n_clusters ~ n / target_cluster_size``);
      3. transitive closure over the pair graph
         (``connected_components``) and keep the minimum id per
         duplicate group (deterministic representative).

    Returns the surviving rows of ``df`` (all original columns).
    Cross-cluster near-duplicates are missed by design — that recall
    loss is the documented SemDeDup trade; raise ``n_clusters`` quality
    by fitting on more data, or run ``embedding_neardup_pairs`` (LSH)
    when cluster-boundary recall matters more than cost.
    """
    from whylogs_spark.ops.similarity import ivf_index

    assigned, _ = ivf_index(df, vec_col, id_col, n_lists=n_clusters,
                            seed=seed)
    v = F.col(vec_col).cast("array<double>")
    side = assigned.select(
        F.col(id_col).alias("__id"),
        F.col("ivf_list").alias("__cl"),
        v.alias("__v"),
        F.sqrt(F.aggregate(v, F.lit(0.0),
                           lambda a, x: a + x * x)).alias("__n"),
    )
    a, b = side.alias("a"), side.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.__v"), F.col("b.__v"),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    denom = F.col("a.__n") * F.col("b.__n")
    pairs = (
        a.join(b, (F.col("a.__cl") == F.col("b.__cl"))
               & (F.col("a.__id") < F.col("b.__id")))
        .filter(denom > 0)
        .filter(dot / denom >= F.lit(float(threshold)))
        .select(F.col("a.__id").alias("id_a"),
                F.col("b.__id").alias("id_b"))
    )
    comps = connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("component")) \
        .select(F.col("node").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def minhash_recall_estimate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    sample_per_mille: int = 10,
    max_sample: int = 20_000,
    band_edges=(0.5, 0.6, 0.7, 0.8, 0.9, 1.0),
) -> DataFrame:
    """Empirical recall of the LSH banding stage, by exact-Jaccard band
    — the tuning tool for ``minhash_dedup`` parameters.

    At corpus scale exact pairwise verification is impossible, so
    banding parameters are normally chosen from the theoretical
    s-curve ``1 - (1 - j^r)^b`` alone. This estimator measures the
    REAL curve on a deterministic sample: it computes ground-truth
    Jaccard pairs on the sample (inverted-index self-join over the
    SAME shingle hashes the signatures use), runs the production LSH
    pipeline on the same sample with the same parameters, and reports
    per-band recall next to the theoretical value — divergence means
    the theory's uniform-hash assumption is off for THIS corpus (e.g.
    near-identical boilerplate inflating gram collisions).

    Returns one row per Jaccard band ``[j_lo, j_hi)`` (last band
    closed): ``n_pairs`` (exact ground truth), ``n_detected`` (found
    by banding + verify), ``recall`` (null when the band is empty),
    ``s_curve_mid`` (theoretical detection probability at the band
    midpoint).

    Scale shape: the sample is hash-selected in-plan (deterministic —
    same docs every run) and capped by TakeOrderedAndProject; every
    downstream structure is O(sample²) at worst but the sample is
    driver-chosen small. The corpus itself is scanned once, never
    shuffled.
    """
    edges_l = [float(e) for e in band_edges]
    if (len(edges_l) < 2
            or any(b <= a for a, b in zip(edges_l, edges_l[1:]))
            or edges_l[0] < 0.0 or edges_l[-1] > 1.0):
        raise ValueError(
            "band_edges must be strictly increasing within [0, 1] "
            f"with >= 2 edges; got {list(band_edges)}")
    if not 1 <= sample_per_mille <= 1000:
        raise ValueError("sample_per_mille must be in [1, 1000]")
    edges = edges_l
    rows_per_band = num_hashes // bands

    # deterministic hash sample, deterministically capped (ordered by
    # the same hash -> TakeOrderedAndProject, no global sort)
    hsh = F.abs(F.xxhash64(F.col(id_col).cast("string"), F.lit(7411)))
    # materialized: the (small) sample feeds TWO branches — the
    # shingle ground truth and the production LSH pipeline — so the
    # corpus scan + top-k selection must not run twice (same idiom as
    # connected_components' edge-list cut)
    sample = materialize(df.filter(hsh % 1000 < sample_per_mille)
                         .orderBy(hsh).limit(max_sample))

    # ground truth: exact Jaccard over the same shingle hash sets the
    # signatures are built from
    sets_ = shingle_hash_sets(sample, text_col, id_col, shingle_words)
    e = sets_.select(F.col(id_col).alias("id"),
                     F.size("shingles").alias("sz"),
                     F.explode("shingles").alias("g"))
    pair = (
        e.alias("x").join(e.alias("y"), "g")
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"),
                 F.col("y.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"),
             F.first(F.col("x.sz")).alias("sa"),
             F.first(F.col("y.sz")).alias("sb"))
        .withColumn("jaccard",
                    F.col("inter").cast("double")
                    / (F.col("sa") + F.col("sb") - F.col("inter")))
        .filter(F.col("jaccard") >= edges[0])
    )

    detected = minhash_lsh_pairs(
        sample, text_col, id_col, num_hashes=num_hashes, bands=bands,
        shingle_words=shingle_words, jaccard_threshold=edges[0]
    ).select("id_a", "id_b", F.lit(True).alias("__found"))

    band_idx = None
    for i in range(len(edges) - 1):
        lo, hi = edges[i], edges[i + 1]
        cond = (F.col("jaccard") >= lo) & (
            (F.col("jaccard") < hi) if i < len(edges) - 2
            else (F.col("jaccard") <= hi))
        band_idx = F.when(cond, i) if band_idx is None \
            else band_idx.when(cond, i)

    joined = pair.join(detected, ["id_a", "id_b"], "left") \
        .withColumn("__band", band_idx)
    per_band = joined.filter(F.col("__band").isNotNull()) \
        .groupBy("__band").agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.coalesce(F.col("__found"), F.lit(False))
                  .cast("long")).alias("n_detected"))

    spark = df.sparkSession
    meta_rows = []
    for i in range(len(edges) - 1):
        mid = (edges[i] + edges[i + 1]) / 2.0
        s_curve = 1.0 - (1.0 - mid ** rows_per_band) ** bands
        meta_rows.append((i, edges[i], edges[i + 1], s_curve))
    meta = spark.createDataFrame(
        meta_rows, "__band int, j_lo double, j_hi double, "
                   "s_curve_mid double")
    out = meta.join(per_band, "__band", "left")
    return out.select(
        "j_lo", "j_hi",
        F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
        F.coalesce(F.col("n_detected"), F.lit(0)).alias("n_detected"),
        (F.col("n_detected").cast("double") / F.col("n_pairs"))
        .alias("recall"),
        "s_curve_mid").orderBy("j_lo")


# ------------------------------------------------- boilerplate by line DF

def line_document_frequency(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """Document frequency of every distinct non-blank line: ``(line,
    doc_freq)`` where ``doc_freq`` counts DOCUMENTS containing the line
    (not occurrences). The measurement half of
    :func:`remove_boilerplate`, exposed for corpus exploration.

    Scale shape: posexplode (no shuffle) -> ``distinct`` on (id, line)
    — partial aggregation collapses within-document repeats map-side —
    -> one hash aggregation per line. A cookie-banner line present in
    10% of a web corpus arrives at the exchange as one row per map
    partition, never one row per document.

    ``delim`` is a LITERAL separator (escaped before the regex split),
    matching :func:`remove_boilerplate`; NULL text counts as an empty
    document (no lines).
    """
    import re as _re

    lines = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")),
                          F.lit(_re.escape(delim)), -1))
        .alias("__line"),
    ).filter(F.length(F.trim(F.col("__line"))) > 0)
    return (
        lines.distinct()
        .groupBy("__line")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .select(F.col("__line").alias("line"), "doc_freq")
    )


def remove_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    min_df_ratio: float = 0.05,
    delim: str = "\n",
    drop_empty_docs: bool = False,
) -> DataFrame:
    """Remove TEMPLATE lines — lines whose document frequency is high —
    from every document (the RefinedWeb / CCNet boilerplate screen:
    nav menus, cookie banners, footers repeat VERBATIM across a site's
    pages; any line present in >= ``min_df_ratio`` of documents AND >=
    ``min_docs`` documents is chrome, not content, and is dropped from
    ALL documents).

    Complements :func:`line_dedup` (which keeps each line's FIRST
    occurrence — dedup semantics) — here a boilerplate line survives
    NOWHERE, and rare lines are untouched even if duplicated. Blank /
    whitespace-only lines are never counted and never removed (they
    carry layout).

    Returns ``(id_col, n_lines, n_kept, text)`` with ``text`` rebuilt
    from surviving lines in original order. ``delim`` is a LITERAL
    separator (escaped before the regex split, matching the literal
    re-join — ``dedup_paragraphs`` semantics); NULL text is treated as
    the empty document (one blank line, kept, text '') so every input
    document has an output row.

    Scale shape: line DF via ``distinct`` + hash agg (both partial-
    aggregated — the hot boilerplate line collapses map-side, see
    :func:`line_document_frequency`); the corpus document count is a
    1-row aggregate cross-joined (broadcast) into the threshold, never
    a driver action; flagged lines join back on ``(xxhash64(line),
    line)`` — the 8-byte hash drives the hash join while the line
    equality makes a 64-bit collision harmless (the lines side carries
    the text anyway for reassembly, so the extra key costs nothing);
    the right side is unique per line (skew-free; AQE may broadcast it
    when small); ONE reassembly shuffle keyed by document id. No
    window over raw lines, nothing collected.
    """
    import re as _re

    if min_docs < 1:
        raise ValueError("min_docs must be >= 1")
    if not (0.0 < min_df_ratio <= 1.0):
        raise ValueError("min_df_ratio must be in (0, 1]")
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")),
                             F.lit(_re.escape(delim)), -1))
        .alias("__pos", "__line"),
    )
    blank = F.length(F.trim(F.col("__line"))) == 0
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).alias("__n_docs"))
    boiler = (
        lines.filter(~blank)
        .select(F.col(id_col), F.col("__line")).distinct()
        .groupBy("__line")
        .agg(F.count(F.lit(1)).alias("__df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("__df") >= F.lit(int(min_docs)))
            & (F.col("__df")
               >= F.col("__n_docs") * F.lit(float(min_df_ratio)))
        )
        .select(F.xxhash64("__line").alias("__lh"),
                F.col("__line"),
                F.lit(True).alias("__boiler"))
    )
    marked = (
        lines.withColumn("__lh", F.xxhash64("__line"))
        .join(boiler, on=["__lh", "__line"], how="left")
    )
    keep = blank | F.col("__boiler").isNull()
    out = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(keep.cast("long")).alias("n_kept"),
        F.concat_ws(
            delim,
            F.transform(
                F.array_sort(F.collect_list(F.when(
                    keep,
                    F.struct(F.col("__pos").alias("p"),
                             F.col("__line").alias("l"))))),
                lambda s: s["l"],
            ),
        ).alias("text"),
    )
    if drop_empty_docs:
        out = out.filter(F.col("n_kept") > 0)
    return out
