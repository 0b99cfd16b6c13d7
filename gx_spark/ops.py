"""Training-data pipeline operators over document/embedding tables.

Large-scale data-curation ops a 100 TB training pipeline needs, expressed
Spark-first (built-in functions, no row-at-a-time Python; shuffles only where
semantically required):

- exact + near (MinHash-LSH / SimHash) deduplication
- embedding similarity search (brute-force cosine top-k; LSH-bucketed ANN)
- text analysis: token counts, quality scoring, language-ID heuristic,
  document fingerprinting (md5)
- quality/selection filters: CCNet-style unigram LM, stupid-backoff
  bigram LM (Brants'07), DSIR importance resampling (Xie'23)
- curation recipe steps: hash_split / group_cap / mixture_sample /
  token_shards / decontaminate / PII / line & span dedup / chunking / BPE

Scale notes are in each docstring; everything runs on the driver-provided
`documents` / `embeddings` testdata tables.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


def exact_dedup_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact-duplicate statistics by hash-groupBy on the key columns.

    One shuffle on the dedup key with map-side partial aggregation.  The
    shuffle key is a 128-bit md5 fingerprint of the key tuple (JSON-encoded,
    so nulls and field boundaries are unambiguous) — 16 bytes cross the wire
    instead of document bodies, and unlike a 64-bit hash the collision
    expectation at 10^12 rows is ~1e-13, so the distinct counts are
    value-exact in practice (a 64-bit key would conflate ~3e4 pairs)."""
    key = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols]))).alias("k")
    groups = df.select(key).groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    return groups.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast("long").alias("n_dup_rows"),
        F.sum(F.col("c") - 1).cast("long").alias("n_removable"),
    )


def _word_shingles(text_col: Column, k: int) -> Column:
    """k-word shingle array from a text column (built-in functions only).

    Built by zipping k shifted slices of the words array rather than
    indexing with element_at inside a transform lambda: HOF lambdas are
    evaluated interpreted WITHOUT subexpression elimination, so the
    element_at formulation re-ran the regex split k times per shingle
    (~150 full-text splits per row — 9s for a 5k-doc scan).  The slice
    form references the split k times total per row."""
    words = F.split(F.lower(F.trim(text_col)), r"\s+")
    n = F.size(words)
    m = F.greatest(n - (k - 1), F.lit(0))
    acc = F.slice(words, 1, m)
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice(words, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(n >= k, acc).otherwise(F.array(F.concat_ws(" ", words)))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int = 3, n_hashes: int = 32
) -> DataFrame:
    """MinHash signature per document: shingle → per-seed xxhash64 → min.

    Shape: explode shingles, project the n_hashes seeded xxhash64 columns
    (JVM codegen natives), then groupBy(id) with n_hashes `min` aggregates.
    The explode multiplies rows ×shingles, but partial aggregation collapses
    them map-side, so the shuffle carries ONE row of n_hashes longs per
    document.  An all-HOF formulation (array_min ∘ transform per seed) looks
    shuffle-free but runs ~70× slower: Spark evaluates higher-order
    functions interpreted (no whole-stage codegen) and re-inlines the
    shingle-construction expression into every seed's lambda.  Null-text
    rows are dropped (no shingles → no meaningful signature)."""
    sh = _word_shingles(F.col(text_col), shingle_k)
    exploded = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.explode(sh).alias("s")
    )
    hashed = exploded.select(
        "id", *[F.xxhash64("s", F.lit(i)).alias(f"h{i}") for i in range(n_hashes)]
    )
    mins = hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(n_hashes)]
    )
    return mins.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(n_hashes)]).alias("sig")
    )


def _band_projection(sigs: DataFrame, bands: int, rows_per_band: int,
                     carry_sig: bool) -> DataFrame:
    extra = ["sig"] if carry_sig else []
    return sigs.select(
        "id",
        *extra,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", *extra, "bb.band", "bb.bucket")


def _banded(sigs: DataFrame, bands: int, rows_per_band: int,
            carry_sig: bool, bucket_cap: int = 1000) -> DataFrame:
    banded = _band_projection(sigs, bands, rows_per_band, carry_sig)
    # Cap pathological buckets (all-identical boilerplate) before pairing,
    # with a window count over the banded rows.  MEASURED tradeoff (sf0.1
    # bench, round 3): the alternative — a sig-free (band, bucket) census +
    # broadcast anti-join — re-executes the entire minhash-signature
    # subplan for the census because the lineage is uncached, which took
    # near_dup_pairs from ~13 s to ~21 s.  The window computes signatures
    # ONCE, and its partitionBy(band, bucket) exchange is exactly the
    # partitioning the downstream bucket self-join needs, so Catalyst
    # reuses it — the sig arrays cross the wire once either way.
    w = Window.partitionBy("band", "bucket")
    return banded.withColumn(
        "bsz", F.count(F.lit(1)).over(w)
    ).filter(F.col("bsz") <= bucket_cap).drop("bsz")


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Banded LSH: documents sharing any band bucket become candidate pairs.

    The only shuffle is on (band, bucket-hash) — 12 bytes per (doc, band) —
    then a self-join within buckets.  At scale, skewed buckets (boilerplate
    docs) are bounded by the bucket-size cap before the pair explosion."""
    banded = _banded(sigs, bands, rows_per_band, carry_sig=False)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return pairs


def minhash_jaccard(
    df: DataFrame, id_col: str, text_col: str,
    shingle_k: int = 3, n_hashes: int = 32, bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs with estimated Jaccard >= threshold.

    Signature agreement fraction estimates Jaccard; the candidate set comes
    from banded LSH so the quadratic comparison never materializes.

    Single-pipeline shape: signatures are CARRIED through the banded
    explode and the bucket self-join (n_hashes longs per (doc, band) row),
    then deduped per pair with any_value.  The alternative — generate id
    pairs, then join the signature relation back twice — re-executes the
    signature subplan three times unless it happens to be cached, which
    tripled the wall clock in practice."""
    sigs = minhash_signatures(df, id_col, text_col, shingle_k, n_hashes)
    banded = _banded(sigs, bands, n_hashes // bands, carry_sig=True)
    a = banded.alias("a")
    b = banded.alias("b")
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    )
    est = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.any_value("sig_a").alias("sig_a"),
            F.any_value("sig_b").alias("sig_b"),
        )
        .select("id_a", "id_b", (agree / F.lit(n_hashes)).alias("est_jaccard"))
    )
    return est.filter(F.col("est_jaccard") >= threshold)


def _distinct_words(text_col: Column) -> Column:
    return F.array_distinct(
        F.filter(F.split(F.lower(F.trim(text_col)), r"\s+"), lambda w: w != "")
    )


def word_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5
) -> DataFrame:
    """EXACT word-set Jaccard near-dup pairs via prefix-filtered token join
    (the AllPairs/PPJoin bound, published: Bayardo et al. WWW'07).

    A naive inverted-index self-join explodes on frequent tokens (every
    stopword's posting list is quadratic).  Prefix filtering keeps it
    exact while pruning: order each doc's tokens by ascending global
    document-frequency; if J(A,B) >= t, A and B must share a token within
    their first |d| - ceil(t*|d|) + 1 tokens (else the overlap bound
    fails), so candidate pairs are generated from the RARE-token postings
    only, then verified with an exact array_intersect.  Shuffles: token
    doc-frequency (combine map-side), per-doc window rank, candidate join
    on the prefix token, two hash joins for the verify arrays — all keyed,
    no cross join, frequent tokens never pair."""
    toks = df.select(
        F.col(id_col).alias("id"), _distinct_words(F.col(text_col)).alias("ws")
    ).filter(F.size("ws") > 0)
    posting = toks.select("id", F.size("ws").alias("n"), F.explode("ws").alias("w"))
    dfreq = posting.groupBy("w").agg(F.count(F.lit(1)).alias("df_w"))
    ranked = posting.join(dfreq, "w").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("id").orderBy(F.asc("df_w"), F.asc("w"))
        ),
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.ceil(F.lit(float(threshold)) * F.col("n")) + 1
    ).select("id", "w")
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(b, "w")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ta = toks.select(F.col("id").alias("id_a"), F.col("ws").alias("ws_a"))
    tb = toks.select(F.col("id").alias("id_b"), F.col("ws").alias("ws_b"))
    n_int = F.size(F.array_intersect("ws_a", "ws_b"))
    out = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a", "id_b",
            (n_int / (F.size("ws_a") + F.size("ws_b") - n_int)).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def edit_distance_pairs(
    df: DataFrame, id_col: str, text_col: str, *,
    jaccard_threshold: float = 0.7, max_dist: int | None = None,
    sim_threshold: float | None = None,
) -> DataFrame:
    """Character-level edit-distance verification of word-level near-dup
    candidates — the standard second stage of fuzzy dedup (cheap set
    overlap proposes, exact Levenshtein confirms; e.g. transcript variants
    that word-Jaccard can't separate: 'color'/'colour', dropped commas).

    Candidates come from the exact prefix-filtered Jaccard join
    (word_jaccard_pairs — AllPairs/PPJoin bound, no cross join), so the
    O(len^2) DP runs only on pairs already sharing most of their
    vocabulary.  The distance itself is the BUILT-IN `levenshtein`
    (JVM codegen, codepoint-based); with `max_dist` set it becomes the
    3-arg banded form — O(len * k) instead of O(len^2), returning -1 for
    pairs beyond the band, which is the scale path: verification cost is
    then linear in text length for the fixed k a dedup policy uses.

    Returns (id_a, id_b, dist, sim_milli) where sim_milli =
    floor(1000 * (1 - dist / greatest(len_a, len_b))) — integer output so
    a cross-engine oracle never hash-flakes on float rounding; -1 dist
    (beyond the band) yields null sim_milli.  `sim_threshold` keeps pairs
    with sim_milli >= floor(1000 * sim_threshold).

    Oracle caveat (tests + driver query): Spark's levenshtein counts
    CODEPOINTS, DuckDB's counts BYTES — identical only on ASCII-pure
    text, so the driver query restricts both engines to ASCII rows; the
    op itself is unicode-correct."""
    pairs = word_jaccard_pairs(df, id_col, text_col, jaccard_threshold)
    texts = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    ta = texts.select(F.col("id").alias("id_a"), F.col("t").alias("t_a"))
    tb = texts.select(F.col("id").alias("id_b"), F.col("t").alias("t_b"))
    joined = pairs.select("id_a", "id_b").join(ta, "id_a").join(tb, "id_b")
    if max_dist is None:
        dist = F.levenshtein("t_a", "t_b")
    else:
        dist = F.levenshtein("t_a", "t_b", int(max_dist))
    mx = F.greatest(F.length("t_a"), F.length("t_b"))
    out = joined.select(
        "id_a", "id_b", dist.cast("long").alias("dist"),
        F.when(
            (dist >= 0) & (mx > 0),
            F.floor(
                F.lit(1000.0)
                * (F.lit(1.0) - dist.cast("double") / mx.cast("double"))
            ).cast("long"),
        ).alias("sim_milli"),
    )
    if sim_threshold is not None:
        out = out.filter(
            F.col("sim_milli") >= int(1000.0 * float(sim_threshold)))
    return out


def word_edit_distance(a: list[str], b: list[str]) -> int:
    """Word-level Levenshtein distance (unit costs) — the WER numerator.
    Two-row DP with the inner recurrence vectorized: the insertion
    dependency cur[j] = min(m[j], cur[j-1]+1) is a running min with +1
    per step, i.e. cur[j] = min over l<=j of (m[l] + (j-l)), computed as
    a prefix-min of m[l]-l (no per-cell Python loop)."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    bw = np.array(b, dtype=object)
    prev = np.arange(lb + 1, dtype=np.int64)
    steps = np.arange(1, lb + 1, dtype=np.int64)
    for i, wa in enumerate(a, 1):
        m = np.minimum(prev[:-1] + (bw != wa), prev[1:] + 1)
        cur = np.empty(lb + 1, dtype=np.int64)
        cur[0] = i
        cur[1:] = np.minimum(
            np.minimum.accumulate(m - steps) + steps,
            i + steps,
        )
        prev = cur
    return int(prev[lb])


def transcript_error_stats(
    df: DataFrame, id_col: str, hyp_col: str, ref_col: str
) -> DataFrame:
    """Per-row ASR transcript error rates against a reference — the
    corpus-QA step that catches a mis-run transcription model or a
    transcript/audio pairing bug before training (WER is THE headline
    ASR metric; CER backs it up where tokenization is ambiguous).

    - char_edits / cer: character-level Levenshtein via the BUILT-IN
      `levenshtein` (JVM codegen, codepoint-based) over the raw strings.
    - word_edits / wer: word-level Levenshtein over whitespace tokens of
      the trimmed text, in an Arrow-batched pandas UDF (word alphabets
      are unbounded, so no builtin applies; the DP inner loop is numpy-
      vectorized — see word_edit_distance).

    Rates are rounded to 6 decimals; a null hypothesis is treated as
    empty (all-deletion). Returns (id, ref_words, word_edits, wer,
    ref_chars, char_edits, cer).  Entirely map-side: zero Exchange, so
    it composes with any upstream scan at full scan parallelism."""
    from .row_udf import pandas_udf

    @pandas_udf("long")
    def word_edits_udf(hyp: pd.Series, ref: pd.Series) -> pd.Series:
        out = []
        for h, r in zip(hyp, ref):
            a = (h or "").split()
            b = (r or "").split()
            out.append(word_edit_distance(a, b))
        return pd.Series(out, dtype="int64")

    hyp = F.coalesce(F.col(hyp_col), F.lit(""))
    ref = F.col(ref_col)
    ref_words = F.size(F.split(F.trim(ref), r"\s+"))
    ref_chars = F.length(ref)
    char_edits = F.levenshtein(hyp, ref)
    word_edits = word_edits_udf(hyp, ref)
    return df.select(
        F.col(id_col),
        ref_words.cast("long").alias("ref_words"),
        word_edits.alias("word_edits"),
        F.round(word_edits / ref_words, 6).alias("wer"),
        ref_chars.cast("long").alias("ref_chars"),
        char_edits.cast("long").alias("char_edits"),
        F.round(char_edits / ref_chars, 6).alias("cer"),
    )


def connected_components(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-dup pair graph via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — converges in O(log n) rounds, each
    round two keyed shuffles (groupBy min + join), no driver-side graph.

    This is the step that turns pairwise near-dup PAIRS into dedup
    CLUSTERS: transitive closure without ever materializing it.  At
    10^12-row scale the pair graph is itself huge; every round here is a
    plain aggregate+join on the node id, so AQE/salting apply, and the
    edge set only shrinks (each round points nodes at smaller labels).
    Lineage is truncated per round with localCheckpoint so the plan does
    not grow O(rounds) deep.

    Input: one row per undirected pair (a, b), any orientation, dups ok.
    Output: (node, component) for every node appearing in `pairs`, where
    component = min node id reachable — callers left-join this onto the
    full table and coalesce(component, id) for singletons.
    """
    e = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    def large_star(edges: DataFrame) -> DataFrame:
        bi = edges.union(edges.select(F.col("v").alias("u"),
                                      F.col("u").alias("v")))
        m = bi.groupBy("u").agg(F.min("v").alias("mv"))
        m = m.select("u", F.least("u", "mv").alias("m"))
        return (
            bi.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(edges: DataFrame) -> DataFrame:
        o = edges.select(F.greatest("u", "v").alias("u"),
                         F.least("u", "v").alias("v"))
        m = o.groupBy("u").agg(F.min("v").alias("m"))
        nbr = o.join(m, "u").select(F.col("v").alias("u"),
                                    F.col("m").alias("v"))
        self_edge = m.select(F.col("u"), F.col("m").alias("v"))
        return (
            nbr.union(self_edge)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    cur = e.localCheckpoint(eager=True)
    prev_sig = None
    for _ in range(max_iter):
        cur = small_star(large_star(cur)).localCheckpoint(eager=True)
        # decimal(38,0) sum: |xxhash64| < 2^63 ≈ 9.2e18, so the sum stays
        # in-range up to ~1e19 edges — never overflows (ANSI mode throws on
        # a plain long sum)
        sig = cur.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged edge set is (node -> component root); roots map to
    # themselves.  Label = min(v) per node: at the fixed point there is
    # one row per node anyway, and if max_iter expired before convergence
    # this still guarantees ONE deterministic row per node (a partially
    # merged labeling) instead of silently emitting duplicate nodes.
    labels = cur.groupBy("u").agg(F.min("v").alias("v"))
    nodes = e.select("u").union(e.select("v")).distinct()
    return (
        nodes.join(labels, "u", "left")
        .select(F.col("u").alias("node"),
                F.coalesce("v", "u").alias("component"))
    )


def dedup_clusters(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.9,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Full near-dup CLUSTERING: near-dup pairs → connected components →
    canonical-doc election.

    Pair source: exact word-Jaccard (prefix-filtered AllPairs join) by
    default — the oracle-checkable baseline; pass `pairs` (any DataFrame
    with id_a/id_b, e.g. minhash_verified_pairs' output) to cluster from
    LSH-verified candidates instead, the 100 TB shape where the quadratic
    comparison never materializes.

    Returns one row per document: (id, component, is_canonical) where
    component is the min doc id in the cluster and the canonical doc is
    the longest text (ties → smallest id) — the standard "keep one
    representative per near-dup cluster" curation step.  Election is a
    row_number window partitioned BY COMPONENT, so window state is one
    cluster, never the table."""
    if pairs is None:
        pairs = word_jaccard_pairs(df, id_col, text_col, threshold=threshold)
    cc = connected_components(pairs)
    full = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.length(text_col), F.lit(-1)).alias("tlen"),
    )
    labeled = (
        full.join(cc, full["id"] == cc["node"], "left")
        .select("id", F.coalesce("component", "id").alias("component"), "tlen")
    )
    w = Window.partitionBy("component").orderBy(F.desc("tlen"), F.asc("id"))
    return labeled.select(
        "id", "component",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


def embedding_dedup_clusters(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.4,
    mode: str = "exact",
) -> DataFrame:
    """Embedding-space near-dup CLUSTERING: cosine near-dup pairs →
    connected components → canonical election (the semantic-dedup step of
    a training pipeline: keep one doc per embedding cluster).

    mode="exact" is the oracle-checkable all-pairs baseline; mode="lsh"
    is the 100 TB shape (hyperplane-bucketed candidates + exact verify —
    the quadratic never materializes).  Returns (id, component,
    is_canonical); component is the min id in the cluster (the CC
    iteration's fixed point), so the canonical member is simply the row
    whose id equals its component — no extra window pass.  Rows with null
    vectors become singleton clusters rather than failing the job."""
    pairs = cosine_near_dup_pairs(
        df, id_col, vec_col, threshold=threshold, mode=mode
    ).select("id_a", "id_b")
    cc = connected_components(pairs)
    base = df.select(F.col(id_col).alias("id"))
    labeled = base.join(cc, base["id"] == cc["node"], "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )
    return labeled.withColumn(
        "is_canonical", F.col("id") == F.col("component")
    )


def semdedup(
    df: DataFrame, id_col: str, vec_col: str, n_clusters: int = 64,
    threshold: float = 0.9, centroids=None,
    sample_cap: int = 20_000, iters: int = 10, seed: int = 42,
    cache: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering + within-cluster cosine pruning —
    the web-scale alternative to all-pairs embedding dedup when the LSH
    recall curve is the wrong tool (paper: 50k clusters over LAION/C4).

    1. Spherical k-means centroids (train_ivf_centroids' bounded-sample
       Lloyd loop), or caller-supplied `centroids` (rows are
       L2-normalized here either way) — injecting centroids makes the
       whole operator exactly reproducible relationally, which is how the
       driver oracle checks it.
    2. One map-side Arrow pass tags every vector with its nearest
       centroid (`cluster`) and its similarity to it (`c_sim`) — a single
       (batch, dim) @ (dim, k) BLAS matmul per batch.
    3. Within each cluster, members are ranked by (c_sim DESC, id ASC)
       and a member is REMOVED iff some member ranked after it has
       cosine >= threshold — exactly the paper's upper-triangular-max
       rule of keeping, per duplicate group, the example FARTHEST from
       the centroid (most distinctive).  Both similarities are compared
       on 6-dp-rounded values, so assignment and verdicts are
       bit-reproducible across engines/BLAS backends.

    Returns one row per input row: (id, cluster, c_sim, removed); null /
    ragged vectors keep cluster/c_sim null and are never removed.

    Scale shape: the quadratic never leaves a cluster — the only wide
    exchange is the self-join keyed on `cluster`, and the paper's own
    knob applies: pick n_clusters ~ corpus/expected-cluster-size so a
    cluster's pair block fits a task.  Training cost is one bounded
    sample + driver matmuls; the tag pass is map-only."""
    import pandas as pd  # noqa: F401
    from .row_udf import pandas_udf

    if centroids is None:
        centroids = train_ivf_centroids(
            df, vec_col, n_clusters, sample_cap, iters, seed)
    C = _unit(centroids)
    dim = C.shape[1]

    @pandas_udf("struct<cluster:int, c_sim:double, nv:array<double>>")
    def tag(vecs):
        n = len(vecs)
        M, valid = _unit_rows(vecs, dim)
        # 6-dp rounding BEFORE argmax: assignment ties then break on the
        # lowest cell index on every engine, not on float noise
        sims = np.round(M @ C.T, 6)
        cells = sims.argmax(axis=1).astype("int32")
        best = sims.max(axis=1)
        cells[~valid] = -1  # sentinel; mapped to null below
        return pd.DataFrame({
            "cluster": cells,
            "c_sim": best,
            "nv": [list(M[i]) if valid[i] else None for i in range(n)],
        })

    raw = df.select(
        F.col(id_col).alias("id"), tag(F.col(vec_col)).alias("t")
    ).select("id", "t.cluster", "t.c_sim", "t.nv")
    # persisted (MEMORY_AND_DISK): the plan reads `tagged` three times
    # (output left side + both sides of the within-cluster pair join) and
    # the Arrow tag pass is the operator's dominant map cost.  The cache
    # holds the normalized vectors too (~corpus size) and lives until
    # Spark's LRU evicts it — a pipeline deduping MANY corpora in one
    # session can pass cache=False to trade recompute for storage.
    tagged = raw.select(
        "id",
        F.when(F.col("cluster") >= 0, F.col("cluster")).alias("cluster"),
        F.when(F.col("cluster") >= 0, F.col("c_sim")).alias("c_sim"),
        "nv")
    if cache:
        tagged = tagged.persist()
    a = tagged.where(F.col("cluster").isNotNull()).select(
        F.col("cluster").alias("cl"), F.col("id").alias("id_a"),
        F.col("c_sim").alias("cs_a"), F.col("nv").alias("nv_a"))
    b = tagged.where(F.col("cluster").isNotNull()).select(
        F.col("cluster").alias("cl"), F.col("id").alias("id_b"),
        F.col("c_sim").alias("cs_b"), F.col("nv").alias("nv_b"))
    ranked_after = (F.col("cs_b") < F.col("cs_a")) | (
        (F.col("cs_b") == F.col("cs_a")) & (F.col("id_b") > F.col("id_a")))
    removed_ids = (
        a.join(b, "cl")
        .where(ranked_after)
        .where(F.round(_dot(F.col("nv_a"), F.col("nv_b")), 6)
               >= F.lit(threshold))
        .select(F.col("id_a").alias("id"))
        .distinct()
        .withColumn("_rm", F.lit(True))
    )
    return (
        tagged.join(removed_ids, "id", "left")
        .select("id", "cluster", "c_sim",
                F.coalesce(F.col("_rm"), F.lit(False)).alias("removed"))
    )


def minhash_verified_pairs(
    df: DataFrame, id_col: str, text_col: str,
    threshold: float = 0.5, n_hashes: int = 32, bands: int = 8,
) -> DataFrame:
    """Near-dup pairs: banded-LSH candidates, then EXACT word-set Jaccard on
    just those candidates (array_intersect on the two token arrays, map-side
    after the pair join).  Precision is exact; recall is the LSH band
    probability 1-(1-t^r)^b — the 100 TB shape: the quadratic comparison
    never materializes, and the verify touches candidate pairs only."""
    sigs = minhash_signatures(df, id_col, text_col, shingle_k=1, n_hashes=n_hashes)
    cand = lsh_candidate_pairs(sigs, bands, n_hashes // bands)
    # the exact-verify joins want only the distinct-token ARRAYS — a cheap
    # map-side projection, re-derived per join side rather than cached
    toks = df.select(
        F.col(id_col).alias("id"), _distinct_words(F.col(text_col)).alias("ws")
    )
    ta = toks.select(F.col("id").alias("id_a"), F.col("ws").alias("ws_a"))
    tb = toks.select(F.col("id").alias("id_b"), F.col("ws").alias("ws_b"))
    n_int = F.size(F.array_intersect("ws_a", "ws_b"))
    verified = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a", "id_b",
            (n_int / (F.size("ws_a") + F.size("ws_b") - n_int)).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold)


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash fingerprint per document — fully map-side.

    Per row: tokenize → per-token xxhash64 → fold into a 64-counter signed
    sum with `aggregate` over the token array → sign → bit.  Everything runs
    as array higher-order functions inside one projection over the scan:
    ZERO shuffle (the previous explode→groupBy(id) formulation shuffled every
    token row).  Fingerprints are bit-identical to the explode version: same
    tokens, same xxhash64, same ±1 sums, bit 63 omitted to stay in signed
    long range."""
    hashes = (
        f"transform(split(lower(trim({text_col})), '\\\\s+'), t -> xxhash64(t))"
    )
    sums = (
        f"aggregate({hashes}, array_repeat(cast(0 as bigint), 64), "
        "(acc, h) -> transform(acc, (x, i) -> "
        "x + if((shiftright(h, i) & 1) = 1, 1, -1)))"
    )
    fp = (
        f"aggregate(zip_with(slice({sums}, 1, 63), sequence(0, 62), "
        "(s, i) -> if(s > 0, shiftleft(cast(1 as bigint), i), cast(0 as bigint))), "
        "cast(0 as bigint), (a, x) -> a + x)"
    )
    return (
        df.where(F.col(text_col).isNotNull())  # matches explode's null-drop
        .select(F.col(id_col).alias("id"), F.expr(fp).alias("simhash"))
    )


# ---------------------------------------------------------------------------
# similarity search over embeddings
#
# One vector front end serves every embedding and ANN op.  The length rule:
# the vector length `dim` is decided once per call, on the driver, from the
# query (cosine_topk), the centroids (semdedup, build_ivf_index) or the
# codebooks (pq_encode) when the op is given one; else it is the table's
# modal non-null length, ties to the larger length (cosine_near_dup_pairs,
# build_ann_index, and the quantizer trainers over their sample).  A null
# row or a row of any other length is invalid, and each op gives it its
# documented null / -1 / dropped result.  `_unit_rows` is the one fill of
# an Arrow batch into unit rows, and `_NORM_FLOOR` the one floor of every
# normalization: rows, centroids, queries and trainers.
# ---------------------------------------------------------------------------

_NORM_FLOOR = 1e-12


def _unit(X) -> np.ndarray:
    """X as float64, scaled to unit L2 length along its last axis; a norm
    below _NORM_FLOOR divides by the floor, so a zero vector stays zero."""
    X = np.asarray(X, dtype=np.float64)
    return X / np.maximum(np.linalg.norm(X, axis=-1, keepdims=True),
                          _NORM_FLOOR)


def _unit_rows(vecs, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """The vector UDFs' one fill: a batch of array cells as an (n, dim)
    matrix of unit rows, and the mask of valid rows (non-null and exactly
    `dim` long).  Invalid rows stay zero."""
    n = len(vecs)
    valid = np.fromiter((v is not None and len(v) == dim for v in vecs),
                        dtype=bool, count=n)
    M = np.zeros((n, dim), dtype=np.float64)
    if valid.any():
        M[valid] = np.stack([np.asarray(v, dtype=np.float64)
                             for v, ok in zip(vecs, valid) if ok])
    return _unit(M), valid


def _modal_length(counts: dict[int, int]) -> int | None:
    """The length rule's table half: the most common length, ties to the
    larger length (None for no lengths)."""
    return max(counts, key=lambda n: (counts[n], n), default=None)


def _table_dim(df: DataFrame, vec_col: str) -> int | None:
    """The modal length of the non-null vectors of `vec_col`, or None when
    there is none.  One aggregate over the lengths only (never the
    vectors), exact at any table size, so independent of row order."""
    rows = (df.filter(F.col(vec_col).isNotNull())
            .groupBy(F.size(vec_col).alias("n")).count().collect())
    return _modal_length({r["n"]: r["count"] for r in rows})


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Brute-force cosine top-k — the exact baseline.  The scan is map-side;
    only (id, score) pairs reach the TakeOrdered, so at 10^9 vectors the
    shuffle is k rows per partition.  Scoring is one numpy matvec per Arrow
    batch (array `aggregate` expressions run interpreted — the BLAS path is
    ~10x faster at embedding dims)."""
    import pandas as pd  # noqa: F401
    from .row_udf import pandas_udf

    qn = _unit(query)
    dim = len(qn)

    @pandas_udf("double")
    def score(vecs):
        # invalid rows score null (excluded from top-k), matching the old
        # SQL-expression cosine's null semantics instead of failing the
        # whole job on one bad vector
        M, valid = _unit_rows(vecs, dim)
        return pd.Series(M @ qn).where(valid, None).astype("Float64")

    scored = df.select(
        F.col(id_col).alias("id"), score(F.col(vec_col)).alias("cosine")
    ).filter(F.col("cosine").isNotNull())
    return scored.orderBy(F.desc("cosine"), F.asc("id")).limit(k)


def cosine_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str,
    threshold: float = 0.9, mode: str = "lsh",
    n_planes: int = 8, n_tables: int = 12, seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine(a, b) >= threshold.

    mode="exact": all-pairs self-join (id_a < id_b) with the exact cosine —
    O(n²), the verification/oracle baseline for bounded slices.
    mode="lsh": multi-table random-hyperplane buckets; only vectors sharing
    a bucket in ANY table are compared (the shuffle key is (table, bucket),
    the pair blow-up is per-bucket) and every surviving pair is exact-cosine
    verified, so precision is exact and recall is the OR-amplified
    sign-agreement probability — the 100 TB shape."""
    from .row_udf import pandas_udf

    if mode not in ("exact", "lsh"):
        raise ValueError(f"unknown mode: {mode!r}")
    dim = _table_dim(df, vec_col)
    if dim is None:
        # no non-null vector: every row is a singleton, so no pairs
        return df.select(
            F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("cosine"),
        ).limit(0)

    # normalize in one numpy pass per Arrow batch: the HOF formulation
    # transform(v, x -> x / sqrt(dot(v,v))) re-evaluates the interpreted
    # dot for EVERY element (dim^2 work per row)
    @pandas_udf("array<double>")
    def _nv(vecs):
        # invalid rows emit null (their pairs then fail the
        # `cosine >= threshold` filter) instead of failing the job
        M, valid = _unit_rows(vecs, dim)
        return pd.Series([list(M[i]) if valid[i] else None
                          for i in range(len(vecs))])

    base = df.select(F.col(id_col).alias("id"), _nv(F.col(vec_col)).alias("nv"))
    if mode == "exact":
        a = base.select(F.col("id").alias("id_a"), F.col("nv").alias("nv_a"))
        b = base.select(F.col("id").alias("id_b"), F.col("nv").alias("nv_b"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        # all n_tables*n_planes projections in ONE numpy matmul per Arrow
        # batch — per-plane `aggregate` expressions run interpreted and
        # are ~10x slower at 96 projections
        idx = _ann_index(df, id_col, vec_col, dim, n_planes, seed, n_tables)
        banded = idx.select(
            "id",
            F.explode(
                F.array(*[
                    F.struct(F.lit(t).alias("tbl"), F.col(f"b{t}").alias("bucket"))
                    for t in range(n_tables)
                ])
            ).alias("tb"),
        ).select("id", "tb.tbl", "tb.bucket").where(F.col("bucket") >= 0)
        # bucket -1 marks null/ragged vectors; without the filter every
        # invalid row would pair with every other invalid row in the
        # self-join (quadratic in the bad-row count at crawl scale)
        a = banded.alias("a")
        b = banded.alias("b")
        # dedup on the 16-byte id pair BEFORE rehydrating vectors — the
        # distinct must never shuffle the embedding arrays themselves
        ids = (
            a.join(b, ["tbl", "bucket"])
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        va = base.select(F.col("id").alias("id_a"), F.col("nv").alias("nv_a"))
        vb = base.select(F.col("id").alias("id_b"), F.col("nv").alias("nv_b"))
        pairs = ids.join(va, "id_a").join(vb, "id_b")
    out = pairs.select(
        "id_a", "id_b", _dot(F.col("nv_a"), F.col("nv_b")).alias("cosine")
    )
    return out.filter(F.col("cosine") >= threshold)


def lsh_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _stacked_planes(dim: int, n_planes: int, seed: int, n_tables: int) -> np.ndarray:
    """(n_tables * n_planes, dim) hyperplane matrix, table-major."""
    return np.vstack([
        lsh_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ])


def build_ann_index(
    df: DataFrame, id_col: str, vec_col: str,
    n_planes: int = 8, seed: int = 42, n_tables: int = 12,
) -> DataFrame:
    """Precompute the multi-table LSH bucket ids: (id, vec, b0..b{T-1}).

    This is the INGEST-side half of ANN at scale: one map-side projection
    over the corpus, stored (parquet/cache, optionally partitioned by a
    bucket column) so each query only probes precomputed longs instead of
    re-hashing 10^9 vectors.  Pair with ann_query().

    The n_tables*n_planes hyperplane projections run as ONE Arrow-batched
    pandas UDF doing a single BLAS matmul per batch — array higher-order
    functions stay interpreted (no codegen), so at 96 projections the
    vectorized numpy path is the fast one."""
    dim = _table_dim(df, vec_col)
    if dim is None:
        raise ValueError("no non-null vectors to index")
    return _ann_index(df, id_col, vec_col, dim, n_planes, seed, n_tables)


def _ann_index(
    df: DataFrame, id_col: str, vec_col: str, dim: int,
    n_planes: int, seed: int, n_tables: int,
) -> DataFrame:
    """build_ann_index's projection for an already decided `dim`; the LSH
    mode of cosine_near_dup_pairs calls it with the `dim` it decided."""
    from .row_udf import pandas_udf

    P = _stacked_planes(dim, n_planes, seed, n_tables)  # (T*p, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def buckets(vecs):
        # invalid rows get bucket -1 in every table, which no query probe
        # set ever contains (buckets are >= 0)
        M, valid = _unit_rows(vecs, dim)
        n = len(vecs)
        signs = (M @ P.T) >= 0  # (n, T*p)
        bits = signs.reshape(n, -1, len(weights))  # (n, T, p)
        ids = (bits * weights).sum(axis=2)  # (n, T)
        ids[~valid] = -1
        return pd.Series(list(ids))

    v = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).alias("id"), v.alias("vec"),
                     buckets(F.col(vec_col)).alias("bk"))
    return base.select(
        "id", "vec",
        *[F.element_at("bk", t + 1).alias(f"b{t}") for t in range(n_tables)],
    )


def _query_probe_sets(
    query: list[float], n_planes: int, seed: int, n_tables: int, hamming_probe: int
) -> list[list[int]]:
    qv = np.asarray(query, dtype=float)
    out = []
    for t in range(n_tables):
        planes = lsh_hyperplanes(len(query), n_planes, seed + 1000 * t)
        qbucket = int(sum((1 << i) for i, p in enumerate(planes) if float(p @ qv) >= 0))
        probe = {qbucket}
        frontier = {qbucket}
        for _ in range(hamming_probe):
            frontier = {b ^ (1 << i) for b in frontier for i in range(n_planes)}
            probe |= frontier
        out.append(sorted(probe))
    return out


def ann_query(
    index_df: DataFrame, query: list[float], k: int = 10,
    n_planes: int = 8, seed: int = 42, n_tables: int = 12,
    hamming_probe: int = 2,
) -> DataFrame:
    """Query a build_ann_index() table: candidates = rows whose precomputed
    bucket collides with the query in ANY table (multi-probe within each) —
    a pure isin filter on stored longs, then cosine over the survivors."""
    probes = _query_probe_sets(query, n_planes, seed, n_tables, hamming_probe)
    cond = F.lit(False)
    for t, probe in enumerate(probes):
        cond = cond | F.col(f"b{t}").isin(probe)
    q = F.array(*[F.lit(float(x)) for x in query])
    return (
        index_df.filter(cond)
        .select("id", cosine_similarity(F.col("vec"), q).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def ann_topk_lsh(
    df: DataFrame, id_col: str, vec_col: str, query: list[float],
    k: int = 10, n_planes: int = 8, seed: int = 42,
    n_tables: int = 12, hamming_probe: int = 2,
) -> DataFrame:
    """ANN: score only vectors in the query's LSH bucket neighborhood.

    Standard OR-amplified LSH: `n_tables` independent hyperplane tables; a
    vector is a candidate if it collides with the query in ANY table, with
    multi-probe inside each table (all buckets within Hamming distance
    `hamming_probe` of the query's bucket — a near-miss on one hyperplane
    lands one bit away).  A single probed table has a recall cliff; the union
    repairs it (measured on the near-uniform testdata embeddings — the
    hardest case for LSH — defaults reach recall 0.9-1.0 vs brute force).

    One-shot convenience: build_ann_index + ann_query composed inline (the
    bucket expressions are map-side, computed once in the projection).  For
    repeated queries at 10^9-vector scale, materialize build_ann_index()
    once and serve every query from the stored bucket columns."""
    index = build_ann_index(df, id_col, vec_col, n_planes, seed, n_tables)
    return ann_query(index, query, k, n_planes, seed, n_tables, hamming_probe)


def train_ivf_centroids(
    df: DataFrame, vec_col: str, n_centroids: int = 64,
    sample_cap: int = 20_000, iters: int = 10, seed: int = 42,
) -> np.ndarray:
    """Spherical k-means coarse quantizer for an IVF index: Lloyd iterations
    over a bounded uniform sample, driver-side numpy (one (m, k) matmul per
    iteration).  The sample cap keeps driver memory constant at any corpus
    size; quantizer quality depends on sample coverage, not corpus size.
    Returns L2-normalized centroids, shape (n_centroids, dim).

    The sample is a seeded Bernoulli `df.sample` across ALL partitions (one
    extra count() job to size the fraction) — a bare limit() would take the
    first partitions only and train a biased quantizer on data clustered or
    sorted by embedding, degrading IVF recall at scale."""
    M = _training_vectors(df, vec_col, sample_cap, seed)
    k = min(n_centroids, len(M))
    rng = np.random.default_rng(seed)
    C = M[rng.choice(len(M), size=k, replace=False)]
    for _ in range(iters):
        assign = (M @ C.T).argmax(axis=1)  # cosine == dot on unit vectors
        for c in range(k):
            members = M[assign == c]
            if len(members):
                C[c] = members.sum(axis=0)
        C = _unit(C)
    return C


def build_ivf_index(
    df: DataFrame, id_col: str, vec_col: str, centroids: np.ndarray
) -> DataFrame:
    """IVF ingest half: tag every vector with its nearest-centroid cell in
    one map-side Arrow pass (a single (batch, dim) @ (dim, k) BLAS matmul
    per batch).  Returns (id, vec normalized, cell).  At scale, WRITE this
    partitioned by `cell` — ivf_query's cell filter then becomes partition
    pruning and a query touches nprobe/k of the corpus files."""
    import pandas as pd  # noqa: F401
    from .row_udf import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    dim = C.shape[1]

    @pandas_udf("struct<cell: int, nv: array<double>>")
    def assign(vecs):
        # ragged-length rows (nulls are filtered below) get cell -1 and are
        # dropped after the UDF instead of failing the job
        M, valid = _unit_rows(vecs, dim)
        cells = (M @ C.T).argmax(axis=1).astype("int32")
        cells[~valid] = -1
        return pd.DataFrame({"cell": cells, "nv": list(M)})

    out = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), assign(F.col(vec_col)).alias("a")
    )
    return out.select(
        "id", F.col("a.nv").alias("vec"), F.col("a.cell").alias("cell")
    ).filter(F.col("cell") >= 0)


def write_ivf_index(
    df: DataFrame, id_col: str, vec_col: str, path: str,
    n_centroids: int = 64, sample_cap: int = 20_000,
    iters: int = 10, seed: int = 42,
) -> np.ndarray:
    """Materialize the IVF index at `path`, PARTITIONED BY cell — the
    at-scale serving shape: ivf_query's `cell isin probes` filter becomes
    Hive-style partition pruning on the read-back table, so a probe touches
    nprobe/n_centroids of the corpus FILES (plan-asserted in
    tests/test_ivf.py).  Centroids ride beside the index as a tiny parquet
    table (`<path>/centroids`), FS-agnostic — no driver-local side files.
    Returns the trained centroids."""
    C = train_ivf_centroids(df, vec_col, n_centroids, sample_cap, iters, seed)
    index = build_ivf_index(df, id_col, vec_col, C)
    index.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/index")
    _write_centroids(df.sparkSession, C, path)
    return C


def _write_centroids(spark, C: np.ndarray, path: str) -> None:
    """The coarse quantizer's side table `<path>/centroids` (cell int,
    centroid array<double>), shared by the IVF and IVF-PQ layouts."""
    spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(C)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def _read_centroids(spark, path: str) -> np.ndarray:
    """The (n_cells, dim) centroid matrix of a `_write_centroids` table."""
    crows = spark.read.parquet(f"{path}/centroids").collect()
    C = np.zeros((len(crows), len(crows[0]["centroid"])), dtype=np.float64)
    for r in crows:
        C[int(r["cell"])] = r["centroid"]
    return C


def read_ivf_index(spark, path: str) -> tuple[DataFrame, np.ndarray]:
    """Load a write_ivf_index() table: (index DataFrame with `cell` as a
    partition column, centroids array).  Feed both to ivf_query()."""
    return spark.read.parquet(f"{path}/index"), _read_centroids(spark, path)


def ivf_query(
    index: DataFrame, centroids: np.ndarray, query: list[float],
    k: int = 10, nprobe: int = 8,
) -> DataFrame:
    """IVF probe: rank cells by centroid similarity to the query driver-side,
    scan only the nprobe best cells, exact cosine + top-k inside them.
    Recall is the probability the true neighbors' cells rank in the top
    nprobe — tune nprobe/n_centroids; nprobe == n_centroids is exact."""
    q = _unit(query)
    C = np.asarray(centroids, dtype=np.float64)
    order = np.argsort(-(C @ q))[:nprobe]
    cells = [int(c) for c in order]
    qcol = F.array(*[F.lit(float(x)) for x in q])
    scored = index.filter(F.col("cell").isin(cells)).select(
        "id", _dot(F.col("vec"), qcol).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), F.asc("id")).limit(k)


def ann_topk_ivf(
    df: DataFrame, id_col: str, vec_col: str, query: list[float],
    k: int = 10, n_centroids: int = 64, nprobe: int = 8, seed: int = 42,
) -> DataFrame:
    """One-shot IVF convenience: train quantizer → assign cells → probe.
    For repeated queries, materialize build_ivf_index() (partitioned by
    cell) and reuse the centroids."""
    C = train_ivf_centroids(df, vec_col, n_centroids, seed=seed)
    index = build_ivf_index(df, id_col, vec_col, C)
    return ivf_query(index, C, query, k, nprobe)


def train_pq_codebooks(
    df: DataFrame, vec_col: str, m: int = 8, k: int = 256,
    sample_cap: int = 20_000, iters: int = 10, seed: int = 42,
) -> np.ndarray:
    """Product-quantization codebooks (Jégou, Douze, Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — public method):
    split the L2-normalized vector into `m` subvectors and run an
    independent Lloyd k-means (k centroids) in each subspace, driver-side
    numpy over the same seeded-Bernoulli bounded sample train_ivf_centroids
    uses.  Returns codebooks shaped (m, k, dim/m).

    The at-scale payoff is MEMORY: a 64-dim float32 vector (256 B) encodes
    to m=8 one-byte codes — 32x smaller — so a 10^12-vector corpus's codes
    fit a fraction of the executors the raw vectors need, and every
    candidate scan streams codes, not vectors."""
    return _pq_lloyd(_training_vectors(df, vec_col, sample_cap, seed),
                     m, k, iters, seed)


def _pq_lloyd(
    M: np.ndarray, m: int, k: int, iters: int, seed: int
) -> np.ndarray:
    """Per-subspace Lloyd k-means over a (n, dim) training matrix; the
    shared trainer behind train_pq_codebooks (raw normalized vectors) and
    train_pq_codebooks_residual (IVF residuals)."""
    dim = M.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    kk = min(k, len(M))
    rng = np.random.default_rng(seed)
    books = np.zeros((m, kk, d_sub))
    for j in range(m):
        X = M[:, j * d_sub:(j + 1) * d_sub]
        C = X[rng.choice(len(X), size=kk, replace=False)].copy()
        for _ in range(iters):
            # L2 assign: argmin ||x-c||^2 = argmax (x.c - ||c||^2/2)
            scores = X @ C.T - 0.5 * (C * C).sum(axis=1)
            assign = scores.argmax(axis=1)
            for c in range(kk):
                members = X[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j] = C
    return books


def pq_encode(
    df: DataFrame, id_col: str, vec_col: str, codebooks: np.ndarray,
) -> DataFrame:
    """PQ ingest half: encode every vector to its m nearest-subspace-centroid
    codes in one map-side Arrow pass (one (batch, d_sub) @ (d_sub, k) BLAS
    matmul per subspace per batch).  Returns (id, code: array<smallint>) —
    codes are what gets stored/shuffled from here on; the raw vector column
    is projected away.  Null/ragged vectors encode to null and are dropped.
    """
    import pandas as pd  # noqa: F401
    from .row_udf import pandas_udf

    B = np.asarray(codebooks, dtype=np.float64)  # (m, k, d_sub)
    m, _k, d_sub = B.shape
    dim = m * d_sub
    # precompute per-subspace -||c||^2/2 bias rows once per worker
    bias = -0.5 * (B * B).sum(axis=2)  # (m, k)

    @pandas_udf("array<smallint>")
    def encode(vecs):
        n = len(vecs)
        M, valid = _unit_rows(vecs, dim)
        codes = np.empty((n, m), dtype=np.int16)
        for j in range(m):
            X = M[:, j * d_sub:(j + 1) * d_sub]
            codes[:, j] = (X @ B[j].T + bias[j]).argmax(axis=1)
        out = [list(codes[i]) if valid[i] else None for i in range(n)]
        return pd.Series(out, dtype=object)

    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), encode(F.col(vec_col)).alias("code"))
        .filter(F.col("code").isNotNull())
    )


def _adc_scorer(codebooks: np.ndarray, q: np.ndarray):
    """The ADC gather UDF of pq_query and ivfpq_query.  The (m, k) table
    T[j][c] = q_j . codebook[j][c] is built once on the driver; a code
    then scores sum_j T[j][code_j] with one numpy gather per subspace over
    the Arrow batch.  A null code scores null."""
    from .row_udf import pandas_udf

    B = np.asarray(codebooks, dtype=np.float64)
    m, _kk, d_sub = B.shape
    T = np.stack([B[j] @ q[j * d_sub:(j + 1) * d_sub] for j in range(m)])

    @pandas_udf("double")
    def adc(code_col):
        vals = np.full(len(code_col), np.nan)
        ok = [i for i, c in enumerate(code_col) if c is not None]
        if ok:
            CM = np.stack([np.asarray(code_col[i], dtype=np.int64)
                           for i in ok])
            s = np.zeros(len(ok))
            for j in range(m):
                s += T[j][CM[:, j]]
            vals[ok] = s
        return pd.Series(vals).astype("Float64")

    return adc


def pq_query(
    codes: DataFrame, codebooks: np.ndarray, query: list[float], k: int = 10,
) -> DataFrame:
    """PQ probe via Asymmetric Distance Computation: the (m, k) table of
    query-subvector · centroid dots is built once driver-side and closed
    over by the scoring UDF; each stored code then scores with m table
    LOOKUPS (a numpy gather per subspace over the whole Arrow batch — no
    per-row Python, no vector rehydration).  approx_cosine is exactly
    q · reconstruct(code) for the normalized query (pinned by test).
    orderBy+limit compiles to TakeOrderedAndProject: k rows per partition
    cross the wire, never the scores."""
    adc = _adc_scorer(codebooks, _unit(query))
    scored = codes.select("id", adc(F.col("code")).alias("approx_cosine"))
    return (
        scored.filter(F.col("approx_cosine").isNotNull())
        .orderBy(F.desc("approx_cosine"), F.asc("id"))
        .limit(k)
    )


def ann_topk_pq(
    df: DataFrame, id_col: str, vec_col: str, query: list[float],
    k: int = 10, m: int = 8, n_codes: int = 256, seed: int = 42,
) -> DataFrame:
    """One-shot PQ convenience: train codebooks → encode → ADC top-k.
    For repeated queries, materialize pq_encode() once (codes are 32x
    smaller than the vectors) and reuse the codebooks.  The IVF-PQ
    composition is implemented below: write_ivfpq_index / ivfpq_query /
    ivfpq_topk_rerank (residual codes partitioned by coarse cell)."""
    B = train_pq_codebooks(df, vec_col, m=m, k=n_codes, seed=seed)
    return pq_query(pq_encode(df, id_col, vec_col, B), B, query, k)


def pq_topk_rerank(
    df: DataFrame, id_col: str, vec_col: str, codes: DataFrame,
    codebooks: np.ndarray, query: list[float], k: int = 10,
    shortlist: int = 50,
) -> DataFrame:
    """The production PQ shape: ADC shortlist over the compressed codes,
    then EXACT cosine re-rank on the shortlist only.  The full-precision
    vector column is touched for `shortlist` rows, not the corpus — the
    shortlist ids broadcast into the rerank scan's join filter, so the
    rerank is a pruned scan + k-row TakeOrdered.  Measured on the
    near-uniform testdata embeddings (the hardest case for any quantizer):
    recall@10 0.9-1.0 at shortlist=50 where raw ADC top-10 sits at 0.5-0.6.
    """
    short = pq_query(codes, codebooks, query, shortlist).select("id")
    cand = df.join(
        F.broadcast(short), df[id_col] == short["id"], "left_semi"
    )
    return cosine_topk(cand, id_col, vec_col, query, k)


def train_pq_codebooks_residual(
    index: DataFrame, centroids: np.ndarray, m: int = 8, k: int = 256,
    sample_cap: int = 20_000, iters: int = 10, seed: int = 42,
) -> np.ndarray:
    """Residual PQ codebooks for IVF-PQ (the IVFADC composition of Jégou
    TPAMI'11 §V): train on r = x_normalized − centroid[cell] over a seeded
    bounded sample of a build_ivf_index() table.  Residuals concentrate
    around 0 once the coarse quantizer has absorbed the cell structure, so
    the same code budget quantizes much finer than vector-space PQ."""
    rows = _bounded_sample(index.select("vec", "cell"), sample_cap, seed)
    C = np.asarray(centroids, dtype=np.float64)
    dim = C.shape[1]
    R = np.stack([
        np.asarray(r["vec"], dtype=np.float64) - C[int(r["cell"])]
        for r in rows if len(r["vec"]) == dim
    ])
    return _pq_lloyd(R, m, k, iters, seed)


def _training_vectors(df: DataFrame, vec_col: str, cap: int, seed: int) -> np.ndarray:
    """The quantizer trainers' input: a bounded sample of the non-null
    vectors of `vec_col`, L2-normalized, as an (n, dim) matrix.  Ragged-
    safe: only vectors of the sample's modal length (the length rule of
    `_modal_length`) are kept; a stray wrong-length vector is skipped
    here and gets no cell / code downstream."""
    vecs = [r[0] for r in _bounded_sample(
        df.select(vec_col).filter(F.col(vec_col).isNotNull()), cap, seed)]
    M, valid = _unit_rows(vecs, _modal_length(Counter(map(len, vecs))))
    return M[valid]


def _bounded_sample(df: DataFrame, cap: int, seed: int) -> list:
    """Seeded Bernoulli sample across ALL partitions capped at `cap` rows
    (one sizing count() job) — the shared bounded-driver-memory sampler
    behind every quantizer trainer here."""
    n = df.count()
    if n > cap:
        df = df.sample(fraction=min(1.0, cap * 1.2 / n), seed=seed)
    rows = df.limit(cap).collect()
    if not rows:
        raise ValueError("no rows to sample")
    return rows


def write_ivfpq_index(
    df: DataFrame, id_col: str, vec_col: str, path: str,
    n_centroids: int = 64, m: int = 8, n_codes: int = 256,
    sample_cap: int = 20_000, iters: int = 10, seed: int = 42,
) -> tuple[np.ndarray, np.ndarray]:
    """Materialize the full IVF-PQ (IVFADC) index — THE 10^12-vector serving
    shape: coarse cells give partition pruning (a probe reads
    nprobe/n_centroids of the FILES), residual PQ codes give 32x compression
    (the probe streams m-byte codes, never vectors).  Layout at `path`:
    `index/` = (id, code) parquet PARTITIONED BY cell; `centroids/` and
    `codebooks/` = tiny parquet side tables (FS-agnostic, no driver-local
    files).  Returns (centroids, codebooks)."""
    import pandas as pd  # noqa: F401
    from .row_udf import pandas_udf

    C = train_ivf_centroids(df, vec_col, n_centroids, sample_cap, iters, seed)
    index = build_ivf_index(df, id_col, vec_col, C)
    B = train_pq_codebooks_residual(index, C, m, n_codes, sample_cap, iters,
                                    seed)
    mm, _kk, d_sub = B.shape
    dim = mm * d_sub
    bias = -0.5 * (B * B).sum(axis=2)  # (m, k): -||c||^2/2 per codeword
    Cd = np.asarray(C, dtype=np.float64)

    @pandas_udf("array<smallint>")
    def encode(vecs, cells):
        import numpy as _np

        V = _np.stack([_np.asarray(v, dtype=_np.float64) for v in vecs])
        R = V - Cd[cells.to_numpy(dtype=_np.int64)]
        codes = _np.empty((len(R), mm), dtype=_np.int16)
        for j in range(mm):
            X = R[:, j * d_sub:(j + 1) * d_sub]
            codes[:, j] = (X @ B[j].T + bias[j]).argmax(axis=1)
        return pd.Series(list(codes))

    # build_ivf_index already dropped null/ragged vectors (cell >= 0 and
    # vec normalized), so encode() can stack unconditionally
    coded = index.select("id", "cell", encode("vec", "cell").alias("code"))
    coded.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/index")
    spark = df.sparkSession
    _write_centroids(spark, C, path)
    spark.createDataFrame(
        [(j, c, [float(x) for x in B[j, c]])
         for j in range(mm) for c in range(B.shape[1])],
        "subspace int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    return C, B


def read_ivfpq_index(
    spark, path: str
) -> tuple[DataFrame, np.ndarray, np.ndarray]:
    """Load a write_ivfpq_index() layout: (codes DataFrame with `cell` as a
    Hive partition column, centroids, codebooks).  Feed to ivfpq_query()."""
    codes = spark.read.parquet(f"{path}/index")
    C = _read_centroids(spark, path)
    brows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(int(r["subspace"]) for r in brows)
    k = 1 + max(int(r["code"]) for r in brows)
    d_sub = len(brows[0]["centroid"])
    B = np.zeros((m, k, d_sub), dtype=np.float64)
    for r in brows:
        B[int(r["subspace"]), int(r["code"])] = r["centroid"]
    return codes, C, B


def ivfpq_query(
    codes: DataFrame, centroids: np.ndarray, codebooks: np.ndarray,
    query: list[float], k: int = 10, nprobe: int = 8,
) -> DataFrame:
    """IVF-PQ probe (asymmetric distance over residual codes): rank cells
    driver-side, filter to the nprobe best (partition pruning on a written
    index), then score approx_cosine = q·centroid[cell] + Σ_j T[j][code_j]
    — exactly q · (centroid + reconstructed residual), pinned by test.
    The cell term is a CASE literal over nprobe values (codegen, no join);
    the code term is the same m-gather ADC as pq_query.  Only k rows per
    partition survive the TakeOrdered."""
    C = np.asarray(centroids, dtype=np.float64)
    q = _unit(query)
    cell_dot = C @ q
    order = np.argsort(-cell_dot)[:nprobe]
    adc = _adc_scorer(codebooks, q)
    cell_bias = F.lit(0.0)
    for c in order:
        cell_bias = F.when(F.col("cell") == int(c),
                           F.lit(float(cell_dot[c]))).otherwise(cell_bias)
    scored = (
        codes.filter(F.col("cell").isin([int(c) for c in order]))
        .select("id", (adc(F.col("code")) + cell_bias).alias("approx_cosine"))
    )
    return scored.orderBy(F.desc("approx_cosine"), F.asc("id")).limit(k)


def ivfpq_topk_rerank(
    df: DataFrame, id_col: str, vec_col: str, codes: DataFrame,
    centroids: np.ndarray, codebooks: np.ndarray, query: list[float],
    k: int = 10, nprobe: int = 8, shortlist: int = 50,
) -> DataFrame:
    """Production IVF-PQ serving: pruned-ADC shortlist over the written
    codes, exact cosine rerank touching full-precision vectors for
    `shortlist` rows only (broadcast semi-join into the corpus scan)."""
    short = ivfpq_query(codes, centroids, codebooks, query, shortlist,
                        nprobe).select("id")
    cand = df.join(F.broadcast(short), df[id_col] == short["id"], "left_semi")
    return cosine_topk(cand, id_col, vec_col, query, k)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def token_count(text_col: Column) -> Column:
    """Whitespace token count (matches the oracle's regexp-split length)."""
    return F.size(F.split(F.trim(text_col), r"\s+"))


# GPT-2-style pretokenizer alternation (contractions | letter runs with
# optional leading space | digit runs | other-symbol runs | whitespace),
# restricted to constructs BOTH Java regex and RE2 support (no lookahead),
# so Spark and the DuckDB oracle count identical matches.
BPE_TOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_token_count(text_col: Column) -> Column:
    """BPE-ish subword-boundary token count: the standard pre-merge
    segmentation a byte-pair tokenizer applies (the merge table then only
    splits within these pieces, so this upper-bounds-approximates real BPE
    token counts closely enough for budget planning).  One JVM-side
    regexp_extract_all — no UDF."""
    return F.size(F.regexp_extract_all(text_col, F.lit(BPE_TOKEN_PATTERN), 0))


def token_stats(df: DataFrame, text_col: str) -> DataFrame:
    tc = token_count(F.col(text_col))
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(tc).cast("long").alias("total_tokens"),
        F.round(F.avg(tc), 6).alias("avg_tokens"),
    )


_PUNCT = r"[.,!?;:]"


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality features: length, token count, punctuation ratio,
    mean word length, stopword ratio.  Pure column expressions — one map-side
    projection, no shuffle."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, _PUNCT, ""))
    stop = F.size(
        F.filter(
            F.split(F.lower(F.trim(t)), r"\s+"),
            lambda w: w.isin(["the", "a", "and", "of", "to", "in", "is"]),
        )
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round((n_chars - n_tokens + 1) / F.greatest(n_tokens, F.lit(1)), 6).alias("avg_word_len"),
        F.round(stop / F.greatest(n_tokens, F.lit(1)), 6).alias("stopword_ratio"),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Within-document repetition signals (Gopher quality-filter family,
    Rae et al. 2021 Table A1): duplicate word-2-gram / 3-gram fractions
    and the most-repeated 2-gram's count.  A doc that is one phrase
    stuttered thousands of times sails through length/punct filters but
    lights these up.

    ZERO shuffle: every signal is a higher-order-function fold over the
    doc's own gram array — dup fraction from array_distinct, the top
    count from a single aggregate() pass over the sorted grams (sorted =>
    equal grams are adjacent => max run length == max multiplicity).
    Docs with fewer than n words score 0 (nothing repeatable).

    The split and each gram array are materialized ONCE per row in
    staged projections — referencing split() inside the transform lambda
    would re-evaluate it per element (O(words^2) chars per doc; measured
    ~3x on the bench corpus).

    Tokenization is a RAW single-space split, deliberately: no trim /
    lowercase / \\s+ collapse.  Repetition is a signal about the byte
    stream as stored — "a  a  a" (double-spaced stutter) repeating is
    exactly as degenerate as "a a a", and normalizing first would merge
    grams that differ only in whitespace, under-counting the very
    pathology this filter exists to catch.  This intentionally differs
    from the quality/stopword ops (which lower+trim+\\s+ because their
    signals are linguistic); the DuckDB oracle splits identically."""
    staged = df.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("_w")
    )

    def grams(n: int) -> Column:
        return F.when(
            F.size("_w") >= n,
            F.expr(
                f"transform(sequence(1, size(_w) - {n} + 1), "
                f"i -> array_join(slice(_w, i, {n}), ' '))"
            ),
        ).otherwise(F.array().cast("array<string>"))

    def dup_frac(g: Column) -> Column:
        return F.round(
            F.when(
                F.size(g) > 0,
                1.0 - F.size(F.array_distinct(g)) / F.size(g),
            ).otherwise(F.lit(0.0)),
            6,
        )

    def max_mult(g: Column) -> Column:
        z = F.lit(0).cast("long")
        return F.aggregate(
            F.sort_array(g),
            F.struct(
                F.lit("").alias("prev"), z.alias("run"), z.alias("best")
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1).cast("long")).alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1)
                    .otherwise(F.lit(1).cast("long")),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )

    return staged.select(
        "doc_id", "_w", grams(2).alias("_g2"), grams(3).alias("_g3")
    ).select(
        F.col("doc_id"),
        F.size("_w").cast("long").alias("n_words"),
        dup_frac(F.col("_g2")).alias("dup_2gram_frac"),
        dup_frac(F.col("_g3")).alias("dup_3gram_frac"),
        max_mult(F.col("_g2")).alias("top_2gram_count"),
    )


# deterministic marker-word rule shared verbatim with the DuckDB oracle
LANG_RULES = [
    ("zh", "[一-鿿]"),
    ("de", r"(^| )(und|der|nicht)( |$)"),
    ("fr", r"(^| )(et|le|les)( |$)"),
    ("es", r"(^| )(el|los|una)( |$)"),
    ("en", r"(^| )(the|and|of)( |$)"),
]


def lang_id(text_col: Column) -> Column:
    """Heuristic language ID: first matching marker rule wins (n-gram/stopword
    heuristic, deterministic, SQL-portable)."""
    expr = F.lit("other")
    for lang, pat in reversed(LANG_RULES):
        expr = F.when(F.lower(text_col).rlike(pat), F.lit(lang)).otherwise(expr)
    return expr


def lang_distribution(df: DataFrame, text_col: str) -> DataFrame:
    return (
        df.select(lang_id(F.col(text_col)).alias("pred_lang"))
        .groupBy("pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def reflow_lines(
    df: DataFrame, id_col: str, text_col: str, words_per_line: int = 8
) -> DataFrame:
    """Deterministically reflow a single-line document into newline-separated
    lines of `words_per_line` raw-split words (last line may be shorter).

    The driver's synthetic `documents` corpus carries no newlines, so the
    line-granular ops (line_dedup) are demonstrated over this reflow — a
    pure restructuring of the existing word stream that the DuckDB oracle
    replicates exactly (1-based list slices stepped by `words_per_line`).
    Zero shuffle: the split is staged once per row (the repetition_stats
    technique) and each line is a slice+join over the doc's own array.

    Returns (doc_id, text) with text newline-joined.
    """
    staged = df.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("_w")
    )
    return staged.select(
        "doc_id",
        F.array_join(
            F.expr(
                f"transform(sequence(1, greatest(size(_w), 1), {words_per_line}), "
                f"i -> array_join(slice(_w, i, {words_per_line}), ' '))"
            ),
            "\n",
        ).alias("text"),
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_len: int = 1,
) -> DataFrame:
    """Corpus-wide exact line deduplication (the C4 §2.2 three-sentence-span
    dedup's line-granular cousin, as run by Dolma / RefinedWeb): every
    distinct line whose trimmed length is >= `min_len` is kept only at its
    FIRST occurrence — lowest (doc_id, line_no) across the whole corpus —
    and dropped from every later document; shorter lines (blank separators,
    stray fragments) are never dedup candidates and are always kept.
    Documents are reassembled in original line order; a document whose
    every line was dropped comes back with text '' (row count preserved).

    `sep` must be a literal separator string (it is used both as the split
    pattern and the re-join glue).

    Returns (doc_id, n_lines, n_kept, text).

    Scale shape (C4 itself was produced by exactly this Beam-pipeline
    shape; here Catalyst picks the physical plan):
      1. posexplode lines — map-side.
      2. winners: groupBy(line).agg(min(struct(doc_id, line_no))) — keyed
         by line text, and min() partial-aggregates map-side, so a line
         duplicated 10^9 times ("Subscribe to our newsletter") crosses the
         wire once per map task, not once per copy.
      3. lines ⋈ winners on line: shuffle join; the join STREAMS the big
         side (state is the one winner row per line), so the
         mega-duplicate line never accumulates per-group state.
      4. reassemble: groupBy(doc_id); the collect_list is bounded by one
         document's own line count (documents are MB-scale, groups are
         not), and the exchange carries one row per line — the heavy line
         text crosses the wire twice total (join + reassembly).
    """
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), sep)).cast("long").alias("n_lines"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("line_no", "line"),
    )
    winners = (
        lines.where(F.length(F.trim(F.col("line"))) >= min_len)
        .groupBy("line")
        .agg(F.min(F.struct("doc_id", "line_no")).alias("_first"))
    )
    marked = lines.join(winners, "line", "left").select(
        "doc_id",
        "n_lines",
        "line_no",
        "line",
        (
            F.col("_first").isNull()
            | (F.struct("doc_id", "line_no") == F.col("_first"))
        ).alias("kept"),
    )
    return marked.groupBy("doc_id").agg(
        F.max("n_lines").alias("n_lines"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("line_no", "kept", "line"))),
                    lambda s: s["kept"],
                ),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text"),
    )


def dedup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", ExactSubstr): any
    word-level k-gram that occurs MORE THAN ONCE across the whole corpus
    (across documents or repeated within one) is kept only at its first
    occurrence — lowest (doc_id, pos) — and the k words of every later
    occurrence are cut out of their documents.  Line_dedup removes whole
    duplicated lines; this removes duplicated spans that cross line
    boundaries or sit inside otherwise-unique text (boilerplate
    sentences, quoted paragraphs, license blocks).

    Word tokens come from a whitespace split of the trimmed text; output
    text is space-rejoined (whitespace-normalized).  Documents shorter
    than k words have no grams and pass through unchanged.  A document
    that was a pure copy loses every word — its deduped text is NULL.

    Returns (doc_id, n_words, n_dup_occurrences, n_removed, text_deduped).

    Scale shape (the paper builds a suffix array on one big machine;
    this is the distributable equivalent — positional k-gram marking,
    the winnowing/decontaminate machinery pointed at span REMOVAL):
      1. positional grams, map-side; each gram is md5-compressed to 32
         chars BEFORE the exchange, so the shuffle carries fixed-width
         keys instead of k-word strings (both engines express md5, so
         the oracle reproduces the exact same keys).
      2. winners: groupBy(gram_key).agg(min(struct), count) — min/count
         partial-aggregate map-side; a boilerplate gram duplicated 10^9
         times crosses the wire once per map task.
      3. occurrences ⋈ duplicated-winners: shuffle join that STREAMS the
         big side (one winner row per gram of state).
      4. flagged positions re-key by doc_id: collect_list bounded by the
         doc's own word count (the line_dedup reassembly bound); the
         heavy text never crosses the wire — only (doc_id, pos) pairs.
      5. span reconstruction is a per-row HOF over the doc's own words
         (exists() over its own flagged starts) — map-side, no UDF.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    docs = df.select(F.col(id_col).alias("doc_id"), words.alias("_w"))
    n = F.size("_w")
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda j: F.struct(
                j.cast("long").alias("pos"),
                F.md5(F.array_join(F.slice("_w", j + 1, k), " ")).alias("g"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:long,g:string>>"))
    occ = docs.select("doc_id", F.explode(grams).alias("o")).select(
        "doc_id", F.col("o.pos").alias("pos"), F.col("o.g").alias("g")
    )
    dups = (
        occ.groupBy("g")
        .agg(
            F.min(F.struct("doc_id", "pos")).alias("_first"),
            F.count(F.lit(1)).alias("_c"),
        )
        .where(F.col("_c") > 1)
        .select("g", "_first")
    )
    flagged = (
        occ.join(dups, "g")
        .where(~(F.struct("doc_id", "pos") == F.col("_first")))
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("_fp"),
            F.count(F.lit(1)).alias("n_dup_occurrences"),
        )
    )
    out = docs.join(flagged, "doc_id", "left")
    fp = F.coalesce(F.col("_fp"), F.array().cast("array<long>"))

    def covered(i):
        # i is the 0-based word index; flagged start p covers [p, p+k)
        return F.exists(fp, lambda p: (p <= i) & (i < p + k))

    kept = F.filter("_w", lambda w, i: ~covered(i.cast("long")))
    return out.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.coalesce("n_dup_occurrences", F.lit(0)).cast("long").alias(
            "n_dup_occurrences"),
        (n - F.size(kept)).cast("long").alias("n_removed"),
        F.nullif(F.array_join(kept, " "), F.lit("")).alias("text_deduped"),
    )


def unigram_logprob(
    df: DataFrame, id_col: str, text_col: str, alpha: float = 0.5,
    broadcast_lm: bool = True,
) -> DataFrame:
    """CCNet-style language-model quality score (Wenzek et al. 2020 filter
    CommonCrawl by KenLM perplexity; the distributable, oracle-checkable
    proxy here is the corpus' own unigram LM): score each document by the
    mean natural-log probability of its tokens under token frequencies
    estimated from the corpus itself, Lidstone-smoothed:

        p(w) = (count(w) + alpha) / (N + alpha * V)

    Templated/boilerplate documents score high (common words), lexically
    anomalous documents score low — the standard split point for "keep the
    head, resample the middle, drop the tail" curation.

    Tokens are lower+trim+\\s+ normalized (the linguistic-op convention,
    unlike repetition_stats' deliberate raw split); empty docs get
    n_tokens=0 and NULL logprob_per_token.

    Returns (doc_id, n_tokens, logprob_per_token)  [rounded to 6 dp].

    Scale shape: one corpus exchange builds the frequency table (map-side
    partial counts, so the wire carries ~vocab rows per map task); the
    scoring pass joins it with a FORCED broadcast by default (a web-scale
    vocab of ~10^7 rows / ~100 MB still broadcasts, and the token stream
    never shuffles) — the hint is hard, Spark errors rather than demote
    it, so past broadcast limits pass `broadcast_lm=False` and let AQE
    pick the join.  The final groupBy(doc_id) partial-aggregates to
    exactly one row per document on the wire either way.  The two scalar
    constants (N, V) are a driver-side scalar aggregate.
    """
    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("w"),
        )
        .where(F.col("w") != "")
    )
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    n, v = freq.agg(F.sum("cnt"), F.count(F.lit(1))).first()
    n = n or 0  # empty corpus: scored is empty, every doc gets n_tokens=0
    logp = freq.select(
        "w", F.log((F.col("cnt") + alpha) / F.lit(float(n) + alpha * v)).alias("_lp")
    )
    scored = (
        toks.join(F.broadcast(logp) if broadcast_lm else logp, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("_lp").alias("_lp_sum"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.round(F.col("_lp_sum") / F.col("n_tokens"), 6).alias(
                "logprob_per_token"
            ),
        )
    )


def stupid_backoff_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 0.4,
    min_count: int = 2,
    broadcast_lm: bool = True,
) -> DataFrame:
    """Bigram language-model quality score with Stupid Backoff smoothing
    (Brants et al. 2007, "Large Language Models in Machine Translation" —
    THE distributed LM: relative frequencies with a fixed backoff factor
    instead of normalized discounting, chosen there precisely because it
    trains as plain MapReduce counts).  Upgrades `unigram_logprob`'s
    CCNet-style filter with left-context: templated/boilerplate text now
    scores high only when its word *pairs* are corpus-frequent, so
    shuffled-word salad that fools a unigram LM scores low.

    Per-token score (natural log, mean over the doc):

        S(w_i | w_{i-1}) = c2(w_{i-1}, w_i) / c1(w_{i-1})   if bigram kept
                         = alpha * S(w_i)                   otherwise
        S(w)             = c1(w) / N                        if unigram kept
                         = alpha / N                        otherwise (OOV)

    The first token of a doc has no context and takes the unigram path
    directly (no backoff penalty).  "Kept" = corpus count >= `min_count`:
    the pruning that bounds the broadcast LM tables (hapax n-grams are
    most of a web corpus's distinct grams but carry no reusable signal —
    the same role as entropy pruning in a real KenLM deploy); pruned and
    unseen grams share the backoff/OOV path, and `c1` in the bigram
    denominator and `N` stay UNPRUNED totals.  Tokens are lower+trim+\\s+
    normalized (the linguistic-op convention).

    Returns (doc_id, n_tokens, logprob_per_token) — the `unigram_logprob`
    shape; empty docs keep n_tokens=0 / NULL score, 6 dp rounding.

    Scale shape: training is two map-side-combined wordcount exchanges
    (unigram + bigram counts, the unigram table cached so the corpus is
    counted once) plus one train-side join to attach the bigram's prefix
    denominator.  With `broadcast_lm=True` (default) the LM tables are
    FORCED broadcast — map-side hash joins, the corpus token stream never
    shuffles — which is right up to broadcast limits (~10^7 distinct
    kept grams / a few hundred MB).  The hint is a hard one: Spark will
    error rather than demote it, so for bigger vocabularies pass
    `broadcast_lm=False` and let AQE pick the join (scoring then
    shuffles tokens by gram — correct, just no longer map-side).  The
    per-doc rollup partial-aggregates to one row per document either way.
    """
    ln_alpha = float(np.log(alpha))
    staged = df.select(
        F.col(id_col).alias("doc_id"), _words(text_col).alias("_w"))
    toks = (
        staged.select("doc_id", F.posexplode("_w").alias("pos", "w"), "_w")
        .select(
            "doc_id",
            "w",
            F.when(F.col("pos") > 0, F.expr("_w[pos - 1]")).alias("prev"),
        )
    )
    # c1 feeds four consumers (N, the bg denominator, ug, and nothing
    # else twice over): cache it so the corpus is tokenized+counted once,
    # not once per consumer.  The cache is vocab-sized (same order as the
    # broadcast itself) and stays until session cache eviction.
    c1 = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("c1")).persist()
    n_total = c1.agg(F.sum("c1")).first()[0] or 0
    n_total = float(n_total)
    maybe_broadcast = F.broadcast if broadcast_lm else (lambda d: d)
    # bigram table with its prefix denominator attached at train time, so
    # the scoring pass needs no second lookup on `prev`
    c2 = (
        toks.where(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
        .where(F.col("c2") >= min_count)
    )
    bg = (
        c2.join(maybe_broadcast(c1.withColumnRenamed("w", "prev")), "prev")
        .select("prev", "w", F.log(F.col("c2") / F.col("c1")).alias("_lp2"))
    )
    ug = c1.where(F.col("c1") >= min_count).select(
        "w", F.log(F.col("c1") / F.lit(n_total)).alias("_lp1")
    )
    oov_lp = float(np.log(alpha / n_total)) if n_total else 0.0
    uni_term = F.coalesce("_lp1", F.lit(oov_lp))
    lp = F.when(F.col("_lp2").isNotNull(), F.col("_lp2")).otherwise(
        F.when(F.col("prev").isNotNull(), F.lit(ln_alpha) + uni_term)
        .otherwise(uni_term)
    )
    scored = (
        toks.join(maybe_broadcast(bg), ["prev", "w"], "left")
        .join(maybe_broadcast(ug), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(lp).alias("_lp_sum"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.round(F.col("_lp_sum") / F.col("n_tokens"), 6).alias(
                "logprob_per_token"
            ),
        )
    )


def _words(text_col: str) -> Column:
    """lower+trim+\\s+ word array (the linguistic-op convention); NULL
    text yields an EMPTY array so downstream folds treat a NULL-text doc
    like an empty doc (n=0, NULL score) instead of going NULL-everything
    — the same outcome the explode-based ops get for free."""
    return F.coalesce(
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda t: t != "",
        ),
        F.array().cast("array<string>"),
    )


# DSIR's feature set over a staged `_dsir_w` word array: word unigrams +
# bigrams ("w1 w2"); a one-word/empty doc contributes only its unigrams
_DSIR_GRAMS = (
    "concat(_dsir_w, CASE WHEN size(_dsir_w) >= 2 THEN "
    "transform(sequence(1, size(_dsir_w) - 1), "
    "i -> array_join(slice(_dsir_w, i, 2), ' ')) "
    "ELSE cast(array() AS array<string>) END)"
)


def _dsir_bucket(g: Column, buckets: int, salt: str) -> Column:
    """bucket = int(first 15 hex of md5(salt || gram)) mod buckets — the
    hash_split convention (60 bits fit a long exactly; DuckDB reproduces
    it as ('0x'||substr(md5(...),1,15))::BIGINT)."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), g)), 1, 15), 16, 10)
        .cast("long") % buckets
    )


def dsir_weights(
    df: DataFrame,
    target_df: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 8192,
    alpha: float = 1.0,
    salt: str = "gx_dsir",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023, DSIR):
    score every raw document by how target-like its hashed n-gram profile
    is.  Features are word unigrams + bigrams hashed into `buckets`
    slots; both corpora's bucket-count vectors estimate multinomial
    feature distributions (Lidstone `alpha` on every bucket), and

        log_w(doc) = sum over the doc's grams of
                     ln( p_target[bucket(g)] / p_raw[bucket(g)] )

    — the log importance weight used to resample a raw corpus toward a
    high-quality target (the LLaMA/DoReMi-era alternative to classifier
    filtering).  Returns (doc_id, n_features, log_importance_weight)
    with empty docs preserved (0, NULL); 6 dp rounding.

    Scale shape: each corpus contributes ONE map-side-combined
    wordcount-shaped exchange that collapses to <= `buckets` rows; the
    two count vectors are a bounded driver collect (B rows, independent
    of corpus size — the centroid/codebook class, NOT a data collect) and
    come back as ONE dense literal log-ratio array.  SCORING is therefore
    a zero-shuffle HOF fold over each doc's own gram array (the
    repetition_stats technique): no join, no exchange, output
    partitioning inherited from the scan.
    """
    def bucket_counts(frame: DataFrame) -> tuple[dict[int, int], int]:
        grams = frame.select(
            _words(text_col).alias("_dsir_w")
        ).select(F.explode(F.expr(_DSIR_GRAMS)).alias("g"))
        rows = (
            grams.select(_dsir_bucket(F.col("g"), buckets, salt).alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .collect()
        )
        counts = {int(r["b"]): int(r["c"]) for r in rows}
        return counts, sum(counts.values())

    t_counts, t_total = bucket_counts(target_df)
    r_counts, r_total = bucket_counts(df)
    t_denom = t_total + alpha * buckets
    r_denom = r_total + alpha * buckets
    log_ratio = [
        float(
            np.log((t_counts.get(b, 0) + alpha) / t_denom)
            - np.log((r_counts.get(b, 0) + alpha) / r_denom)
        )
        for b in range(buckets)
    ]
    ratio_arr = F.lit(log_ratio)
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        _words(text_col).alias("_dsir_w"),
    ).withColumn("_g", F.expr(_DSIR_GRAMS))
    score = F.aggregate(
        "_g",
        F.lit(0.0),
        lambda acc, g: acc
        + F.element_at(ratio_arr, (_dsir_bucket(g, buckets, salt) + 1).cast("int")),
    )
    return staged.select(
        "doc_id",
        F.size("_g").cast("long").alias("n_features"),
        F.when(F.size("_g") > 0, F.round(score, 6)).alias(
            "log_importance_weight"
        ),
    )


def dsir_sample(
    weights: DataFrame,
    k: int,
    salt: str = "gx_dsir_gumbel",
) -> DataFrame:
    """Gumbel top-k resampling over DSIR log-weights (Xie et al. 2023
    §2.2: sampling k docs without replacement ∝ importance weight is
    exactly top-k on log_w + Gumbel noise).  The noise is DETERMINISTIC —
    u = (md5-derived 31-bit int + 0.5) / 2^31, g = -ln(-ln(u)) — so the
    sample is reproducible across clusters/parallelism/reruns, the same
    property hash_split gives splits.  Docs with NULL weight (empty) are
    excluded.  Returns the k selected (doc_id, n_features,
    log_importance_weight, gumbel_key) rows.

    Scale shape: map-side key computation + global top-k, which compiles
    to TakeOrderedAndProject (per-partition heaps of k, never a global
    sort); ties (astronomically unlikely with 31-bit noise) break by
    doc_id for determinism.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))),
                1, 15,
            ),
            16, 10,
        ).cast("long") % F.lit(2147483648)
        + 0.5
    ) / 2147483648.0
    keyed = weights.where(
        F.col("log_importance_weight").isNotNull()
    ).withColumn(
        "gumbel_key",
        F.round(F.col("log_importance_weight") - F.log(-F.log(u)), 6),
    )
    return keyed.orderBy(
        F.col("gumbel_key").desc(), F.col("doc_id").asc()
    ).limit(k)


def ngram_counts(
    df: DataFrame, text_col: str, n: int = 1, k: int = 100
) -> DataFrame:
    """Corpus-wide top-k word n-gram frequency table — the corpus-stats
    pass behind vocabulary studies, boilerplate hunting, and the unigram
    LM (unigram_logprob builds the n=1 table internally).

    Tokens are lower+trim+\\s+ normalized (the linguistic-op convention);
    grams are built map-side as HOF slices over each doc's own word array
    (the repetition_stats technique), so the ONLY corpus exchange is the
    map-side-combined count groupBy — the classic wordcount shape — and
    the global top-k compiles to TakeOrderedAndProject (per-partition
    heaps, never a global sort).  Ties at the k-th count break by ngram
    ascending, so the result set is deterministic.

    Returns (ngram, cnt), at most k rows.
    """
    staged = df.select(
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda w: w != "",
        ).alias("_w")
    )
    grams = F.when(
        F.size("_w") >= n,
        F.expr(
            f"transform(sequence(1, size(_w) - {n} + 1), "
            f"i -> array_join(slice(_w, i, {n}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        staged.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Context-window chunking with overlap — the training-example prep
    step that turns variable-length documents into fixed-budget windows
    (the RoBERTa/GPT packing pipelines' "split long docs, keep `overlap`
    tokens of left context" convention).

    Tokens are trim+\\s+ split (case PRESERVED — chunk text is training
    payload, unlike the lower-cased linguistic stats ops); chunk i
    covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap, so consecutive chunks share exactly
    `overlap` tokens and the final chunk may run short.  A doc with
    n <= chunk_tokens tokens yields exactly one chunk; an empty doc
    yields none (documented drop — empties carry no training signal).

    Returns one row per chunk: (id, chunk_id int, n_tokens int,
    chunk_text).  Entirely map-side — token array, chunk count, and
    slices are HOF expressions over each doc's own row (the
    repetition_stats technique) feeding one explode: ZERO shuffle, so at
    100 TB this is an embarrassingly-parallel rewrite whose output
    partitioning is inherited from the scan.
    """
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    if not (0 <= overlap < chunk_tokens):
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    staged = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"),
            lambda w: w != "",
        ).alias("_w"),
    ).select(
        id_col, "_w", F.size("_w").alias("_n"),
    )
    n_chunks = (
        F.when(F.col("_n") <= 0, F.lit(0))
        .when(F.col("_n") <= chunk_tokens, F.lit(1))
        .otherwise(
            F.ceil((F.col("_n") - chunk_tokens) / F.lit(stride))
            .cast("int") + 1)
    )
    chunks = F.expr(
        f"transform(sequence(0, _nc - 1), "
        f"i -> struct(i as chunk_id, "
        f"slice(_w, i * {stride} + 1, {chunk_tokens}) as ctoks))"
    )
    return (
        staged.withColumn("_nc", n_chunks)
        .where(F.col("_nc") > 0)
        .select(id_col, F.explode(chunks).alias("_c"))
        .select(
            id_col,
            F.col("_c.chunk_id").cast("int").alias("chunk_id"),
            F.size("_c.ctoks").cast("int").alias("n_tokens"),
            F.array_join("_c.ctoks", " ").alias("chunk_text"),
        )
    )


def tfidf_topk(
    df: DataFrame, id_col: str, text_col: str, k: int = 10
) -> DataFrame:
    """Per-document top-k terms by tf-idf — the standard keyword /
    topic-signal extraction pass over a pretraining corpus (domain
    tagging, boilerplate hunting, per-source vocabulary drift).

    Scoring is the sklearn TfidfVectorizer(smooth_idf=True,
    sublinear_tf=False) formula on raw counts:

        idf(w)      = ln((N + 1) / (df(w) + 1)) + 1
        score(w, d) = tf(w, d) * idf(w)

    Tokens are lower+trim+\\s+ normalized (the linguistic-op convention).
    Ranking is by (round(score, 6) DESC, term ASC) — rounding before the
    sort makes the rank reproducible across engines (the unigram_logprob
    convention for cross-engine ln()), and the term tie-break makes equal
    scores deterministic.  Docs with no tokens emit no rows.

    Returns (doc_id, term, tf, score, rank), rank in [1, k].

    Scale shape: per-doc term counts are built MAP-SIDE as a HOF fold
    over each doc's own word array (the repetition_stats technique — no
    corpus-wide (doc, term) exchange just to count a doc's own terms);
    the document-frequency table is the one corpus exchange
    (explode(array_distinct) -> map-side-combined groupBy, wire carries
    ~vocab rows per map task); scoring broadcast-joins the idf table
    (10^7-row web vocab still broadcasts, AQE falls back beyond); the
    final per-doc top-k is one exchange keyed by doc_id with per-group
    state bounded by the doc's own distinct-term count — never a global
    sort.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda w: w != "",
        ).alias("_w"),
    ).where(F.size("_w") > 0)
    # per-doc (term, tf) structs, map-side: O(u^2) over the doc's own
    # distinct terms, zero exchange
    with_tf = staged.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(array_distinct(_w), "
                "u -> struct(u as term, "
                "size(filter(_w, x -> x = u)) as tf))"
            )
        ).alias("_t"),
    ).select("doc_id", F.col("_t.term").alias("term"),
             F.col("_t.tf").cast("long").alias("tf"))
    # document frequency: the one corpus exchange (distinct terms per doc
    # explode to ~u rows/doc; groupBy combines map-side)
    dfreq = (
        staged.select(F.explode(F.array_distinct("_w")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("_df"))
    )
    n_docs = staged.count()
    idf = dfreq.select(
        "term",
        (F.log((F.lit(float(n_docs) + 1.0)) / (F.col("_df") + 1.0)) + 1.0)
        .alias("_idf"),
    )
    scored = with_tf.join(F.broadcast(idf), "term").select(
        "doc_id", "term", "tf",
        F.round(F.col("tf") * F.col("_idf"), 6).alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "score",
                F.col("rank").cast("int").alias("rank"))
    )


def bloom_blocklist_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    blocklist: list[str],
    m_bits: int = 16384,
    k: int = 3,
) -> DataFrame:
    """Blocklist screening via a Bloom filter — the C4/RefinedWeb
    "bad-word list" curation step, shaped for 100 TB: the blocklist is
    folded into an m-bit bitmap ON THE DRIVER, shipped as ONE hex-string
    literal inside the plan (no join, no shuffle, no broadcast exchange),
    and every document probes it map-side with pure JVM expressions —
    md5-derived bit positions, so the probe is portable arithmetic any
    engine reproduces bit-for-bit (the DuckDB oracle recomputes the
    identical flag set, false positives included).

    Bloom semantics: token t is flagged iff ALL k bits
    md5(t + '|' + seed)[:15 hex] % m_bits are set — no false negatives
    ever (every true blocklist token flags), false-positive rate
    ~ (n_set/m)^k, tunable via m_bits/k.  Tokens are lower+trim+\\s+
    (the linguistic-op convention).

    Returns one row per input doc: (doc_id, n_flagged_tokens = distinct
    probe-positive tokens, bloom_hit).  Docs with no tokens report 0 /
    false.

    Scale shape: the bitmap literal is m_bits/4 chars (16 KB default) —
    constant-size plan payload regardless of corpus size; each token
    probe is k substr+conv+bitmask expressions inside one HOF filter
    (whole-stage codegen, zero Python); output is one scalar row per doc
    with NO exchange introduced.  A 10^8-term blocklist outgrows a plan
    literal — at that point raise m_bits and ship the bitmap via
    broadcast join on nibble index instead; the probe arithmetic is
    unchanged."""
    import hashlib

    if m_bits <= 0 or m_bits % 4:
        raise ValueError("m_bits must be a positive multiple of 4")
    if k <= 0:
        raise ValueError("k must be positive")
    nibbles = [0] * (m_bits // 4)
    for term in blocklist:
        for s in range(k):
            p = int(hashlib.md5(
                f"{term}|{s}".encode()).hexdigest()[:15], 16) % m_bits
            nibbles[p // 4] |= 1 << (p % 4)
    bm = "".join("%x" % v for v in nibbles)

    def _probe(s: int) -> str:
        pos = (f"(CAST(conv(substr(md5(concat(t, '|{s}')), 1, 15), 16, 10) "
               f"AS BIGINT) % {m_bits})")
        nib = (f"CAST(conv(substr(_bm, CAST({pos} DIV 4 AS INT) + 1, 1), "
               f"16, 10) AS INT)")
        return f"(({nib} & shiftleft(1, CAST({pos} % 4 AS INT))) != 0)"

    hit = " AND ".join(_probe(s) for s in range(k))
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda w: w != "",
            ).alias("_w"),
            F.lit(bm).alias("_bm"),
        )
        .select(
            "doc_id",
            F.expr(
                f"size(filter(array_distinct(_w), t -> {hit}))"
            ).cast("int").alias("n_flagged_tokens"),
        )
        .select(
            "doc_id",
            "n_flagged_tokens",
            (F.col("n_flagged_tokens") > 0).alias("bloom_hit"),
        )
    )


def md5_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content fingerprint per document (hex md5 — portable across engines)."""
    return df.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col).cast("binary")).alias("fingerprint")
    )


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, window: int = 4,
) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (the MOSS
    algorithm, Schleimer/Wilkerson/Aiken SIGMOD'03): hash every k-gram of
    the normalized text (rolling window over characters), then keep the
    MINIMUM hash of each window of `window` consecutive k-grams and dedup.
    Guarantees: any shared substring of length >= k + window - 1 yields at
    least one shared fingerprint, while storing ~2/(window+1) of the
    k-gram hashes.

    Spark shape: explode(sequence) -> substring -> md5, all whole-stage
    codegen (no interpreted HOF fold — see memory: 2-arg lambdas/HOFs run
    interpreted); the min-per-window is a bounded rows-window per doc.
    md5 (not xxhash64) keeps the gram hash portable to the DuckDB oracle.
    Returns (id, fp) distinct."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    base = df.select(F.col(id_col).alias("id"), norm.alias("norm")) \
        .where(F.length("norm") >= k)
    grams = base.select(
        "id",
        F.explode(
            F.sequence(F.lit(1), F.length("norm") - F.lit(k - 1))
        ).alias("pos"),
        "norm",
    ).select(
        "id", "pos",
        F.md5(F.expr(f"substring(norm, pos, {k})").cast("binary")).alias("h"),
    )
    w = Window.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    return (
        grams.select("id", F.min("h").over(w).alias("fp"))
        .distinct()
    )


def fingerprint_overlap_pairs(
    fps: DataFrame, min_shared: int = 2, max_df: int = 100,
) -> DataFrame:
    """Document pairs sharing >= min_shared winnowed fingerprints.
    Fingerprints occurring in more than `max_df` documents are dropped
    first (stop-gram removal, part of the MOSS design) — at corpus scale
    that bounds every posting list, so the self-join is never quadratic
    in the corpus, only in genuinely-overlapping groups."""
    docfreq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df_"))
    # broadcast the OVERSIZED set, not the kept set: stop-grams are
    # bounded by corpus_size/max_df rows, while the kept set is nearly
    # every distinct fingerprint (would OOM the driver at corpus scale)
    oversized = docfreq.filter(F.col("df_") > max_df).select("fp")
    kept = fps.join(F.broadcast(oversized), "fp", "left_anti")
    a = kept.select(F.col("fp"), F.col("id").alias("id_a"))
    b = kept.select(F.col("fp"), F.col("id").alias("id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def decontaminate(
    train: DataFrame, bench: DataFrame, id_col: str, text_col: str,
    n: int = 13, broadcast_bench: bool = True,
) -> DataFrame:
    """Test-set decontamination — flag training documents sharing any
    word n-gram with an evaluation/benchmark set (the GPT-3 appendix-C
    filter; 13-grams there, parameterized here).  The step every
    pretraining pipeline runs so eval numbers aren't memorization.

    All JVM-side: split -> slice/array_join n-grams; the benchmark's
    DISTINCT n-grams join against train n-grams.  Benchmark sets are tiny
    relative to a crawl (thousands of eval documents vs billions of train
    docs), so the bench gram set is BROADCAST by default — train rows
    never shuffle for the probe.  Per-doc totals are computed MAP-SIDE on
    the un-exploded gram array (``size(array_distinct(...))``, the
    repetition_stats fold technique): no exchange ever carries the train
    corpus's exploded n-grams.  Only the HITS leg explodes — each doc's
    distinct grams probe the broadcast set, so the post-join rows are
    bounded by |bench grams| x contaminated docs, and the groupBy behind
    them partial-aggregates map-side before its (tiny) exchange.  The
    final totals<-hits left join exchanges one ~24-byte row per train doc
    — the unavoidable floor for a per-doc verdict.  For a pathologically
    large bench set pass ``broadcast_bench=False`` to fall back to a
    shuffle hash join on the n-gram key.  Docs shorter than ``n`` words
    have no n-grams and are absent from the output (nothing to test for
    contamination).

    Tokenization is a RAW single-space split (no trim/lower/\\s+), and
    train and bench are split IDENTICALLY — what matters for
    decontamination is that the two sides agree, so a verbatim eval leak
    always matches itself regardless of the convention.  GPT-3's filter
    normalized more aggressively (lowercase + punctuation strip); callers
    wanting that recall can pre-normalize both inputs with the same
    expression.  The DuckDB oracle splits identically.

    Returns one row per train doc with >= n words:
    (id_col, n_ngrams, n_hits, contaminated).

    PRECONDITION: `id_col` is unique per train row (it is the output
    key).  The map-side totals are per ROW while the hits leg groups by
    id, so duplicated ids would emit duplicated output rows each carrying
    the id's COMBINED n_hits — dedup the train side first if its key can
    repeat.
    """
    def gram_sets(df: DataFrame) -> DataFrame:
        w = df.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
        ).filter(F.size("_w") >= n)
        # sequence(1, k) DESCENDS when k < 1 — the size filter above
        # guarantees k = size-n+1 >= 1 so the expr never sees that case
        return w.select(
            F.col(id_col),
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(_w) - {n} + 1), "
                    f"i -> array_join(slice(_w, i, {n}), ' '))"
                )
            ).alias("_grams"),
        )

    bench_grams = (
        gram_sets(bench).select(F.explode("_grams").alias("ngram")).distinct()
    )
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)
    train_sets = gram_sets(train)
    # totals: a pure per-row fold — never exploded, never exchanged
    totals = train_sets.select(
        F.col(id_col), F.size("_grams").cast("long").alias("n_ngrams")
    )
    # hits: the only explode; _grams is already distinct per doc, so the
    # post-join count(*) equals the old countDistinct without a dedup
    hits = (
        train_sets.select(F.col(id_col), F.explode("_grams").alias("ngram"))
        .join(bench_grams, "ngram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        totals.join(hits, id_col, "left")
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0).cast("long")))
        .withColumn("contaminated", F.col("n_hits") > 0)
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# Regex classes for PII-shaped spans.  Deliberately restricted to syntax
# that behaves IDENTICALLY under Java regex (Spark's rlike/regexp_count/
# regexp_replace) and RE2 (DuckDB's regexp_* — the correctness oracle):
# no lookaround, no backreferences, only \b/\d/char classes/bounded
# repetition, all of which have the same leftmost, non-overlapping match
# semantics in both engines.  The classes are detection heuristics in the
# spirit of public PII scrubbers (e.g. Microsoft Presidio's pattern
# recognizers; BigScience ROOTS corpus PII filtering, Laurençon et al.
# 2022) — "shaped like", not verified: the card class is digit-grouping
# only (no Luhn checksum — not expressible as a regex), and the ipv4
# class accepts octets up to 999 (tightening to 0-255 triples the
# pattern for no recall gain on real text).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[ .-]\d{3}[ .-]\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "ccard": r"\b(?:\d{4}[ -]){3}\d{1,4}\b",
}

# Redaction order: most-specific / longest spans first, so a card number
# is masked whole before the phone class could nibble a sub-span, and an
# address-like host in an email is gone before the ipv4 pass.
_PII_REDACT_ORDER = ("email", "ccard", "ipv4", "phone")


def _pii_classes(classes: list[str] | None) -> list[str]:
    """Resolve a `classes` argument consistently across the PII APIs:
    None means every class; anything else must be a non-empty subset of
    PII_PATTERNS.  An empty list and unknown names both raise — a
    silently-empty class set would make redact_pii a no-op that ships
    the 'redacted' corpus verbatim."""
    if classes is None:
        return list(PII_PATTERNS)
    names = list(classes)
    if not names:
        raise ValueError(
            "classes must be None (= all classes) or a non-empty subset of "
            f"{sorted(PII_PATTERNS)}")
    unknown = set(names) - set(PII_PATTERNS)
    if unknown:
        raise ValueError(f"unknown PII classes: {sorted(unknown)}")
    return names


def pii_count_expr(col: Column | str, classes: list[str] | None = None) -> Column:
    """Total PII-shaped match count in a string column — a pure map-side
    regexp_count sum (JVM codegen, no UDF).  Classes are counted
    independently; a span matching two classes counts twice (detection
    semantics: every class wants review)."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.lit(0)
    for name in _pii_classes(classes):
        total = total + F.regexp_count(c, F.lit(PII_PATTERNS[name]))
    return total.cast("long")


def pii_stats(
    df: DataFrame, id_col: str, text_col: str,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document PII detection counts: one row per doc with a count
    per class plus the total — the audit table a curation pipeline
    reviews before deciding to drop vs redact.  Zero shuffle: every
    count is a map-side regexp_count.  `keep_cols` pass through
    untouched (the extract_audio_features convention)."""
    t = F.col(text_col)
    cols = [
        F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    scanned = df.select(
        F.col(id_col).alias("doc_id"),
        *cols,
        *[F.col(c) for c in (keep_cols or [])],
    )
    # n_pii sums the per-class COLUMNS of the previous projection, so each
    # regex scans the text exactly once even without subexpression
    # elimination (pii_count_expr here would re-scan all four patterns)
    total: Column = F.lit(0)
    for name in PII_PATTERNS:
        total = total + F.col(f"n_{name}")
    return scanned.select(
        "doc_id",
        *[f"n_{name}" for name in PII_PATTERNS],
        total.cast("long").alias("n_pii"),
        *[F.col(c) for c in (keep_cols or [])],
    ).withColumn("has_pii", F.col("n_pii") > 0)


def redact_pii(
    df: DataFrame, text_col: str, out_col: str | None = None,
    replacement: str = "[PII]", classes: list[str] | None = None,
) -> DataFrame:
    """Mask PII-shaped spans with `replacement` — chained map-side
    regexp_replace (global, all occurrences), applied in
    _PII_REDACT_ORDER so broader classes never split a span a more
    specific class would have masked whole.  Idempotent for the default
    replacement (the mask contains no digits or '@').  No shuffle, no
    UDF; the text column is rewritten in place unless `out_col` names a
    new column."""
    wanted = set(_pii_classes(classes))
    c: Column = F.col(text_col)
    for name in _PII_REDACT_ORDER:
        if name in wanted:
            c = F.regexp_replace(c, PII_PATTERNS[name], replacement)
    return df.withColumn(out_col or text_col, c)


def curation_pipeline(
    df: DataFrame, id_col: str, text_col: str, lang: str = "en",
    min_tokens: int = 5, max_tokens: int = 1000,
    max_punct_ratio: float = 0.2, min_stopword_ratio: float = 0.01,
) -> DataFrame:
    """End-to-end EXACT training-data curation over a documents table —
    the composition a pretraining pipeline runs before tokenization:

        1. exact dedup (md5-keyed: 128-bit hashes shuffle, never bodies;
           keep the min id per group)
        2. language filter (deterministic marker-rule lang_id)
        3. quality filter (token-count band, punctuation ratio,
           stopword ratio)

    Returns ONE summary row: n_input, n_after_dedup, n_after_lang,
    n_final, final_tokens (the surviving token budget).  Plan shape: a
    single partial/final groupBy on the md5 key, then pure column flags
    and one single-row aggregate — two exchanges total at any scale, and
    document bodies cross the wire only once (inside the dedup groupBy's
    representative text).  Every step is exact and SQL-portable, so the
    whole pipeline is DuckDB-oracle-checked end to end
    (__spark_entry__.py curation_pipeline_documents); the approximate
    siblings (MinHash/SimHash near-dup, LSH) remain separate ops."""
    t = F.col(text_col)
    dedup = df.groupBy(F.md5(t.cast("binary")).alias("h")).agg(
        F.min(id_col).alias("doc_id"),
        F.min(t).alias("text"),
        F.count(F.lit(1)).alias("c"),
    )
    tt = F.col("text")
    n_tokens = token_count(tt)
    n_chars = F.length(tt)
    n_punct = n_chars - F.length(F.regexp_replace(tt, _PUNCT, ""))
    stop = F.size(
        F.filter(
            F.split(F.lower(F.trim(tt)), r"\s+"),
            lambda w: w.isin(["the", "a", "and", "of", "to", "in", "is"]),
        )
    )
    flags = dedup.select(
        "c",
        n_tokens.alias("n_tokens"),
        (lang_id(tt) == lang).alias("lang_ok"),
        (
            (n_tokens >= min_tokens) & (n_tokens <= max_tokens)
            & (F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
               <= max_punct_ratio)
            & (F.round(stop / F.greatest(n_tokens, F.lit(1)), 6)
               >= min_stopword_ratio)
        ).alias("quality_ok"),
    )
    final = F.col("lang_ok") & F.col("quality_ok")
    return flags.agg(
        F.sum("c").cast("long").alias("n_input"),
        F.count(F.lit(1)).cast("long").alias("n_after_dedup"),
        F.sum(F.when(F.col("lang_ok"), 1).otherwise(0)).cast("long")
        .alias("n_after_lang"),
        F.sum(F.when(final, 1).otherwise(0)).cast("long").alias("n_final"),
        F.coalesce(F.sum(F.when(final, F.col("n_tokens"))), F.lit(0))
        .cast("long").alias("final_tokens"),
    )


def hash_split(
    df: DataFrame, key_col: str, val_permille: int = 100,
    salt: str = "gx_split",
) -> DataFrame:
    """Deterministic, content-stable train/val split — the reproducibility
    primitive of a training-data pipeline: a document lands in the same
    split on any cluster, at any parallelism, across reruns and re-shards,
    because the assignment is a pure function of its key (vs `df.sample`/
    `randomSplit`, whose outcome depends on partitioning and seed plumbing).

    bucket = int(first 15 hex digits of md5(salt || key)) mod 1000 (60 bits
    — fits a long exactly, and `('0x'||hex)::BIGINT` reproduces it in
    DuckDB/ANSI engines for the oracle); split = 'val' iff bucket <
    val_permille.  Pure map-side column expression: no shuffle, no RNG
    state, codegen end to end.  Salt gives independent splits for k-fold /
    re-splitting without correlation."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
            1, 15),
        16, 10,
    ).cast("long")
    return df.withColumn(
        "split",
        F.when(h % 1000 < val_permille, F.lit("val")).otherwise(F.lit("train")),
    )


def group_cap(
    df: DataFrame, group_col: str, order_col: str, cap: int,
    id_col: str | None = None, descending: bool = True,
    salt_buckets: int = 0,
) -> DataFrame:
    """Per-group cap — "keep at most `cap` best documents per domain", the
    anti-over-representation step of corpus curation (a handful of mega
    sources otherwise dominate a crawl-scale mix).

    Default path: one shuffle on group_col; rank = row_number over
    (order_col desc, id asc) so ties break deterministically; window state
    is one group, never the table — but a skewed mega-group ranks in ONE
    task.  For corpora with known-degenerate keys (one domain = half the
    crawl), pass ``salt_buckets=B``: a pre-phase ranks within
    (group, xxhash64(id) % B) and keeps `cap` per shard, bounding any
    task's window state to ~group/B rows, then the final window ranks the
    <= B*cap survivors.  Output is IDENTICAL to the unsalted plan: the
    order (order_col, id) is total, so every row of the group's true
    top-cap is also in its shard's top-cap — the pre-phase can only drop
    rows the final rank would drop anyway.  Costs a second shuffle; worth
    it exactly when a group is too big for one task."""
    order = [F.desc(order_col) if descending else F.asc(order_col)]
    if id_col:
        order.append(F.asc(id_col))
    src = df
    if salt_buckets and salt_buckets > 1:
        if not id_col:
            raise ValueError("salt_buckets requires id_col (deterministic "
                             "shard assignment + total tie-break order)")
        clash = {"_gc_salt", "_gc_rk"} & set(df.columns)
        if clash:
            raise ValueError(
                f"group_cap temp column name(s) {sorted(clash)} already "
                "exist on the input — rename them first (withColumn would "
                "silently overwrite; same caveat as the 'rk' output column)")
        w_pre = Window.partitionBy(group_col, "_gc_salt").orderBy(*order)
        src = (
            df.withColumn(
                "_gc_salt",
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)),
            )
            .withColumn("_gc_rk", F.row_number().over(w_pre))
            .filter(F.col("_gc_rk") <= cap)
            .drop("_gc_salt", "_gc_rk")
        )
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        src.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
        .drop("rk")
    )


def mixture_sample(
    df: DataFrame, group_col: str, weights: dict, token_col: str,
    budget_tokens: int, key_col: str, salt: str = "gx_mix",
) -> DataFrame:
    """Data-mixing: downsample each group (source/domain/language) so the
    kept token mass approaches `budget_tokens * weights[group]` — the
    "N% web, M% code, K% books" recipe step of assembling a training mix.

    keep_frac(g) = min(1, budget*w_g / tokens_g) from one tiny groupBy
    aggregate (broadcast back — group count is small by construction);
    membership is the same deterministic md5-bucket rule as hash_split, so
    the sampled mix is reproducible at any parallelism and is expressible
    in ANSI SQL for the oracle; `key_col` must be a ROW key (doc id), not
    the group — hashing the group would keep or drop whole groups.  Groups
    absent from `weights` get weight 0 (dropped).  Expected kept tokens
    per group ≈ target (md5 buckets are uniform; exactness is statistical,
    not row-exact — the oracle checks the IDENTICAL deterministic row set,
    not the expectation)."""
    kc = key_col
    totals = df.groupBy(group_col).agg(
        F.sum(F.col(token_col)).cast("double").alias("_g_tokens")
    )
    wmap = F.create_map(
        *[x for gw in weights.items()
          for x in (F.lit(gw[0]), F.lit(float(gw[1])))]
    )
    frac = F.least(
        F.lit(1.0),
        F.lit(float(budget_tokens))
        * F.coalesce(wmap[F.col(group_col)], F.lit(0.0))
        / F.col("_g_tokens"),
    )
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(kc).cast("string"))), 1, 15),
        16, 10,
    ).cast("long") % 1000
    return (
        df.join(F.broadcast(totals), group_col)
        .where(bucket < frac * 1000)
        .drop("_g_tokens")
    )


def token_shards(
    df: DataFrame, id_col: str, token_col: str, shard_tokens: int,
    n_ranges: int = 32,
) -> DataFrame:
    """Assign every document to a fixed-token-budget training shard:
    shard = floor(prefix_tokens / shard_tokens) where prefix_tokens is the
    running token total in global `id_col` order (exclusive of the row) —
    the deterministic "pack the corpus into ~N-token files" step before
    training, reproducible at any parallelism.

    A single global window cumsum would serialize the table through one
    partition; this is the classic two-phase distributed PREFIX SUM
    instead: bucket ids into contiguous ranges, per-bucket running sums
    via a window whose state is one bucket (streaming running total, not
    a buffered frame), plus one tiny per-bucket-subtotal aggregate
    (n_ranges rows) broadcast back as offsets.

    ONE shuffle total for numeric ids: range boundaries come from
    approxQuantile (driver-side, tiny), the bucket is an explicit VALUE
    column, and the single `repartition(n, bucket)` hash exchange then
    satisfies the window's ClusteredDistribution(bucket) — Catalyst adds
    no second exchange (plan-asserted in tests/test_curation_ops.py).
    The naive repartitionByRange + spark_partition_id() form pays a
    second hashpartitioning exchange because Catalyst cannot prove the
    range layout clusters the synthetic pid; it remains as the fallback
    for non-numeric ids.  Bucket boundaries do not affect the OUTPUT
    (any monotone contiguous bucketing yields the same global prefix
    sum), so approxQuantile's partitioning sensitivity is harmless.
    Oracle: the ANSI equivalent is `(SUM(tok) OVER (ORDER BY id
    ROWS UNBOUNDED PRECEDING) - tok) // S` — same values, serially.

    All arithmetic stays in LONG (`div`, not float division): a double
    prefix sum loses integer precision past 2^53 cumulative tokens, which
    a 10^12-row corpus plausibly reaches — shard boundaries would drift
    off the exact integer oracle exactly where the budget matters."""
    return prefix_totals(df, id_col, token_col, n_ranges=n_ranges).select(
        "id",
        F.expr(f"_prefix_tok div {int(shard_tokens)}")
        .cast("long").alias("shard"),
    )


def prefix_totals(
    df: DataFrame, id_col: str, token_col: str, n_ranges: int = 32,
) -> DataFrame:
    """The distributed prefix-sum core shared by `token_shards` and
    `audio_ops.pack_clips`: (id, _prefix_tok) where _prefix_tok is the
    EXCLUSIVE running total of `token_col` in global `id_col` order,
    exact LONG arithmetic, one hash exchange (see token_shards' docstring
    for the two-phase plan rationale)."""
    base = df.select(F.col(id_col).alias("id"),
                     F.col(token_col).cast("long").alias("tok"))
    numeric = base.schema["id"].dataType.typeName() in (
        "byte", "short", "integer", "long", "float", "double", "decimal")
    if numeric and n_ranges > 1:
        qs = [i / n_ranges for i in range(1, n_ranges)]
        bounds = sorted(set(base.stat.approxQuantile("id", qs, 0.001)))
        bucket = F.lit(0)
        for j, bnd in enumerate(bounds):
            bucket = F.when(F.col("id") > F.lit(bnd),
                            F.lit(j + 1)).otherwise(bucket)
        ranged = base.withColumn("pid", bucket).repartition(
            max(1, len(bounds) + 1), "pid")
    else:
        ranged = (
            base.repartitionByRange(n_ranges, F.col("id"))
            .withColumn("pid", F.spark_partition_id())
        )
    subtotals = ranged.groupBy("pid").agg(F.sum("tok").alias("s")).collect()
    totals = {int(r["pid"]): int(r["s"]) for r in subtotals}
    offsets, acc = {}, 0
    for p in sorted(totals):
        offsets[p] = acc
        acc += totals[p]
    omap = F.create_map(
        *[x for p, o in offsets.items()
          for x in (F.lit(p), F.lit(o).cast("long"))]
    )
    w = (
        Window.partitionBy("pid").orderBy(F.asc("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefix = omap[F.col("pid")] + F.sum("tok").over(w) - F.col("tok")
    return ranged.select("id", prefix.alias("_prefix_tok"))


# BPE pretokenizer, compiled by Python `re` ONLY — on both the train and
# the encode side (via _bpe_pretokenize below).  Java regex must not touch
# this pattern: \w/\W/\s/\d are ASCII-only under Java's default flags but
# Unicode-aware under Python 3, so a JVM regexp_extract_all would split
# 'café' as 'caf'+'é' while the Python encode side keeps 'café' whole —
# the merge vocabulary would be trained on different word units than
# bpe_encode applies (tests/test_bpe.py::test_non_ascii_round_trip pins
# the agreement).
BPE_PY_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[^\W\d_]+| ?\d+| ?[^\s\w]+|\s+"
)


def _bpe_pretokenize(df: DataFrame, text_col: str) -> DataFrame:
    """Pretokenize with the SAME compiled Python regex bpe_encode uses
    (Arrow-batched pandas UDF, map-side) and explode to one word per row.
    Shared by train_bpe_merges so train/encode word units agree exactly,
    including non-ASCII."""
    import re as _re

    import pandas as pd
    from .row_udf import pandas_udf

    pat = _re.compile(BPE_PY_PATTERN)

    @pandas_udf("array<string>")
    def pretok(texts):
        return pd.Series(
            [pat.findall(t) if t is not None else [] for t in texts])

    return df.select(F.explode(pretok(F.col(text_col))).alias("w"))


def train_bpe_merges(
    df: DataFrame, text_col: str, n_merges: int = 500,
    sample_cap: int = 20_000, seed: int = 42,
) -> list[tuple[str, str]]:
    """Learn a byte-pair-encoding merge table (Sennrich, Haiko & Birch,
    "Neural Machine Translation of Rare Words with Subword Units",
    ACL 2016 — the public BPE algorithm): start from characters, greedily
    merge the most frequent adjacent symbol pair, n_merges times.

    The corpus-side work is ONE distributed word-count over a bounded
    seeded sample (pretokenized by _bpe_pretokenize — the same compiled
    Python regex bpe_encode applies, so non-ASCII word units agree);
    the merge loop runs driver-side over the word-frequency DICTIONARY
    (vocabulary-sized, not corpus-sized — the standard trick that makes
    BPE training O(vocab) per merge regardless of corpus size).  Returns
    the ordered merge list for bpe_encode()."""
    rows = _bounded_sample(
        _bpe_pretokenize(df, text_col)
        .groupBy("w").agg(F.count(F.lit(1)).alias("c")),
        sample_cap, seed)
    vocab = {tuple(r["w"]) + ("</w>",): int(r["c"]) for r in rows}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for word, c in vocab.items():
            for i in range(len(word) - 1):
                p = (word[i], word[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        # deterministic argmax: count desc, then lexicographic
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab = {}
        for word, c in vocab.items():
            out, i = [], 0
            while i < len(word):
                if (i < len(word) - 1
                        and word[i] == best[0] and word[i + 1] == best[1]):
                    out.append(merged)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def _bpe_encode_word(word: str, ranks: dict) -> list[str]:
    symbols = list(word) + ["</w>"]
    while len(symbols) > 1:
        best_rank, best_i = None, None
        for i in range(len(symbols) - 1):
            r = ranks.get((symbols[i], symbols[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        symbols[best_i:best_i + 2] = [symbols[best_i] + symbols[best_i + 1]]
    return symbols


def bpe_encode(
    df: DataFrame, id_col: str, text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Tokenize every document with a trained merge table: pretokenize by
    the shared regex, then apply merges in rank order per word (the
    standard BPE apply loop), with a per-worker word→pieces cache — real
    corpora repeat words heavily, so the amortized per-row cost is a dict
    lookup.  Returns (id, tokens array<string>, n_bpe_tokens).  Map-side
    Arrow pass; the merge table broadcasts in the UDF closure."""
    import pandas as pd  # noqa: F401
    from .row_udf import pandas_udf

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    import re as _re

    pat = _re.compile(BPE_PY_PATTERN)

    @pandas_udf("array<string>")
    def encode(texts):
        cache: dict = {}

        def enc(t):
            if t is None:
                return None
            out = []
            for w in pat.findall(t):
                pieces = cache.get(w)
                if pieces is None:
                    pieces = _bpe_encode_word(w, ranks)
                    cache[w] = pieces
                out.extend(pieces)
            return out

        return pd.Series([enc(t) for t in texts])

    return df.select(
        F.col(id_col).alias("id"),
        encode(F.col(text_col)).alias("tokens"),
    ).withColumn("n_bpe_tokens", F.size("tokens"))


# ---------------------------------------------------------------------------
# transcript normalization + lexicon coverage (OOV rate)
# ---------------------------------------------------------------------------

def normalize_text(text_col: Column | str) -> Column:
    """Kaldi/ESPnet-style transcript normalization as one JVM expression:
    lowercase, collapse every run of characters outside [a-z0-9'] to a
    single space, trim.  Apostrophes survive so contractions ("don't")
    stay one token.  The regex uses only the Java-regex/RE2 common
    subset, so the DuckDB oracle replays it verbatim (with the 'g' flag —
    Spark's regexp_replace is global by default, DuckDB's is not).

    Ref parity: great_expectations has no text normalizer; this is the
    standard ASR-corpus prep step the validation engine's transcript
    checks (WER, speaking-rate, OOV) assume upstream.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9']+", " "))


def normalize_transcript(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document normalized transcript + token count.

    Returns (doc_id, norm_text, n_tokens).  Empty/whitespace-only (or
    all-punctuation) transcripts normalize to '' with n_tokens=0; NULL
    stays NULL with n_tokens=0.

    Scale shape: map-only — a projection of two JVM expressions, no
    shuffle, no UDF; rides whole-stage codegen and prunes every other
    column at the scan.
    """
    norm = normalize_text(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        norm.alias("norm_text"),
        F.when(F.coalesce(norm, F.lit("")) == "", F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .cast("long")
        .alias("n_tokens"),
    )


def oov_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 2,
    lexicon: DataFrame | None = None,
) -> DataFrame:
    """Lexicon coverage / out-of-vocabulary rate per document — the ASR
    screen for transcripts that do not match the target language or
    lexicon (OCR garbage, wrong-language rows, encoding mojibake all
    surface as high OOV against a corpus- or user-supplied vocabulary).

    Tokens come from normalize_text (lower / [a-z0-9'] / collapse).  The
    lexicon is either the caller's single-column DataFrame ('w') or, by
    default, corpus-derived: every normalized token with corpus frequency
    >= min_count (hapaxes are OOV).  Returns
    (doc_id, n_tokens, n_oov, oov_rate[6dp]); empty docs keep
    n_tokens=0 / n_oov=0 / NULL rate.

    Scale shape: the frequency table is one groupBy(token) with map-side
    partial counts (wire ~= vocab per map task, not corpus tokens); the
    scoring pass BROADCASTS the lexicon (a 10^7-word vocab is ~100 MB —
    still broadcastable; beyond that AQE falls back to a token-keyed
    shuffle join) and the per-doc rollup partial-aggregates to one row
    per document.  No sort, no window, no Python.
    """
    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(normalize_text(text_col), " ")).alias("w"),
        )
        .where(F.col("w") != "")
    )
    if lexicon is None:
        lexicon = (
            toks.groupBy("w")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") >= int(min_count))
            .select("w")
        )
    lex = lexicon.select(F.col("w"), F.lit(True).alias("_in_lex"))
    scored = (
        toks.join(F.broadcast(lex), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.coalesce(
                F.sum(F.when(F.col("_in_lex").isNull(), 1)), F.lit(0)
            ).cast("long").alias("n_oov"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )
