"""Deduplication operators for large-scale document corpora.

North-star capability set (BASELINE.json): exact, n-gram Jaccard,
MinHash+LSH, SimHash. All operate on any ``(id, text)`` DataFrame and are
built from shuffle-conscious primitives:

- exact:    one hash-groupBy on a fingerprint (1 shuffle).
- jaccard:  inverted-index self-join on shingles — only pairs sharing ≥1
            shingle are materialized (never the full n² cross product).
- minhash:  constant-size signature per doc, banded LSH bucket join — the
            100 TB path: candidate generation is linear in corpus size plus
            bucket-collision pairs.
- simhash:  64-bit signature, banded hamming candidate join.

Determinism: all hashing uses Spark's xxhash64 with fixed string seeds, so
repeated runs produce identical signatures (required by the driver's
rows-only replay check). These sketches are engine-specific, hence no SQL
oracle for the minhash/simhash variants; the jaccard and exact variants are
oracle-checkable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.textfn import normalized_fingerprint, word_shingles

# Large prime modulus keeps minhash values positive and well-spread.
_MH_MOD = (1 << 61) - 1


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Map every row to its canonical (minimum) id among exact-normalized
    duplicates. is_dup marks non-canonical rows; one shuffle on the
    fingerprint."""
    from pyspark.sql import Window

    fp = normalized_fingerprint(F.col(text_col))
    w = Window.partitionBy("fp")
    return (
        df.withColumn("fp", fp)
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_dup", (F.col(id_col) != F.col("canonical_id")).cast("int"))
        .select(id_col, "fp", "canonical_id", "is_dup")
    )


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Repartition ahead of explode-heavy work — ONLY when the input is
    under-parallel. A small-doc table often arrives as one parquet split,
    which would serialize the whole shingle pipeline onto one core; there
    the shuffle is tiny (raw text) and buys full parallelism. A corpus at
    scale already scans as >= defaultParallelism splits, and reshuffling
    100 TB of raw text before shingling would be a pure waste — so the
    repartition is skipped (same guard as sources/json_ingest.py's small-
    batch fan-out). Keyed so downstream same-key joins can reuse the
    partitioning when the shuffle does happen."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key))


def _shingle_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) exploded distinct-shingle table."""
    toks = F.split(F.col(text_col), " ")
    # explode() drops empty arrays by itself — an explicit size() filter here
    # would force the (interpreted, non-codegen) shingle HOF to evaluate
    # twice per row, which measured 7× slower.
    return _spread(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(word_shingles(toks, n)).alias("s")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_shared: int = 1,
    max_doc_freq: int | None = 512,
) -> DataFrame:
    """N-gram Jaccard for every pair sharing >= min_shared shingles.

    Inverted-index join: explode shingles, self-join on the shingle value,
    count intersections, then combine with per-doc set sizes. Returns
    (doc1, doc2, inter, n1, n2, jaccard).

    ``max_doc_freq`` (DEFAULT ON) drops shingles appearing in more than
    that many documents before the self-join — a single boilerplate
    shingle shared by 1M docs would otherwise contribute ~10¹² candidate
    pairs. Dropped shingles are excluded from BOTH the intersection and
    the per-doc sizes, so jaccard stays a true Jaccard over the capped
    shingle space (the standard df-cap/prefix-filter semantics). Hot
    shingles are by construction few (≤ total_shingles/K), so the filter
    is a broadcast anti-join — no extra shuffle of the big table. Pass
    ``None`` for the exact uncapped variant (small corpora only)."""
    sh = _shingle_table(df, id_col, text_col, n)
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("s")
        )
        sh = sh.join(F.broadcast(hot), "s", "left_anti")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    # The streaming inverted-index self-join. A local posting-list pair
    # expansion (collect each shingle's sorted doc list, expand its i<j
    # pairs with a higher-order transform) saves two exploded-corpus
    # shuffles, but the r19 interleaved A/B measured it 1.15x SLOWER at
    # sf0.1 (tools/ab_arms_r19.py::jaccard_r18_hof,
    # plans/r19/ab/jaccard_posting_expansion.json). For the uncapped
    # variant the join is also the only safe shape: with no df cap, a
    # single hot shingle's posting list (and its ~D²/2 pair array) would
    # materialize in ONE aggregation row — an executor OOM / 2 GiB-array
    # hard failure where the join merely produces the same pairs as
    # streamed rows (code-review r18).
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("inter"))
        .filter(F.col("inter") >= min_shared)
    )
    s1 = sizes.select(F.col("doc").alias("doc1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc").alias("doc2"), F.col("n_sh").alias("n2"))
    return (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn(
            "jaccard", F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
        )
        .select("doc1", "doc2", "inter", "n1", "n2", "jaccard")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 32
) -> DataFrame:
    """Per-doc MinHash signature as num_hashes columns mh_0..mh_{k-1}.

    One explode + one groupBy: each hash function is
    xxhash64('<j>|' || shingle) mod M, min-aggregated — map-side combinable,
    so the shuffle carries only k longs per doc regardless of doc size."""
    sh = _shingle_table(df, id_col, text_col, n)
    aggs = [
        F.min(F.pmod(F.xxhash64(F.concat(F.lit(f"{j}|"), F.col("s"))), F.lit(_MH_MOD))).alias(
            f"mh_{j}"
        )
        for j in range(num_hashes)
    ]
    return sh.groupBy(F.col("doc")).agg(*aggs)


def minhash_signatures_md5(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 8
) -> DataFrame:
    """Engine-portable MinHash twin of :func:`minhash_signatures`: the
    SAME plan shape (one shingle explode → one min-agg groupBy, map-side
    combinable, k longs per doc on the shuffle) with xxhash64 swapped
    for the 60-bit prefix of md5 — a hash every SQL engine computes
    bit-identically, so an external oracle (DuckDB) can reproduce the
    full signature table and certify the sketch math cross-engine.
    Production paths keep xxhash64 (one cheap JVM hash vs a full md5
    digest per shingle×hash); this twin exists because a sketch's
    correctness is otherwise only testable against itself. Docs with
    fewer than ``n`` tokens have no shingles and produce no row, exactly
    as in the production signature table."""
    sh = _shingle_table(df, id_col, text_col, n)

    def h(j: int):
        hx = F.substring(F.md5(F.concat(F.lit(f"{j}|"), F.col("s"))), 1, 15)
        # 15 hex digits = 60 bits < _MH_MOD, so no reduction is needed:
        # the raw value IS the hash, on both engines.
        return F.conv(hx, 16, 10).cast("long")

    aggs = [F.min(h(j)).alias(f"mh_{j}") for j in range(num_hashes)]
    return sh.groupBy(F.col("doc")).agg(*aggs)


def banded_md5_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Engine-portable twin of the BANDING stage of
    :func:`minhash_lsh_pairs`: md5-signature table →
    md5 band hashes (60-bit prefix of ``md5(mh_i || '|' || mh_j)``) →
    band self-join → distinct candidate pairs with their shared-band
    count. The same plan shape as production banding (explode into band
    rows, equi-join on (band, bh), ``doc1 < doc2``) with both hash
    families swapped for md5 so DuckDB reproduces the candidate SET
    bit-exactly — closing the one LSH stage
    (``dedup_minhash_signature_parity`` certifies the sketch below it)
    that was previously only self-attested. Returns
    ``(doc1, doc2, n_bands)``."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures_md5(df, id_col, text_col, n=n, num_hashes=num_hashes)

    def bh(b: int):
        s = F.concat_ws(
            "|",
            *[
                F.col(f"mh_{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ],
        )
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")

    band_structs = F.array(
        *[F.struct(F.lit(b).alias("band"), bh(b).alias("bh")) for b in range(bands)]
    )
    banded = sig.select(F.col("doc"), F.explode(band_structs).alias("bb")).select(
        "doc", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(
            F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2")
        )
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def banded_minhash_tables(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three tables every MinHash-LSH consumer needs, from one shingle
    pass: ``(sh, per_doc, banded)`` where ``sh`` = (doc, s) exploded
    shingles, ``per_doc`` = (doc, mh array, n_sh) — one groupBy
    computing the signature array + the distinct-shingle COUNT (k+1 longs
    per doc, map-side combinable; the shuffle payload never carries
    shingle SETS, which at corpus scale would dominate it) — and
    ``banded`` = (doc, band, bh) band-hash rows. Shared by the batch
    self-join pair finder (:func:`minhash_lsh_pairs`) and the streaming
    against-history probe (``streaming/near_dedup_stream.py``), so both
    compute bit-identical signatures. Nothing is cached here: every
    consumer reads ``per_doc`` from several join arms, so each pins it
    for as long as it needs it."""
    rows_per_band = num_hashes // bands
    sh = _shingle_table(df, id_col, text_col, n)
    mh_arr = F.array(
        *[
            F.min(
                F.pmod(F.xxhash64(F.concat(F.lit(f"{j}|"), F.col("s"))), F.lit(_MH_MOD))
            )
            for j in range(num_hashes)
        ]
    )
    per_doc = sh.groupBy("doc").agg(mh_arr.alias("mh"), F.count(F.lit(1)).alias("n_sh"))

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.element_at("mh", b * rows_per_band + r + 1) for r in range(rows_per_band)]
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    banded = per_doc.select(F.col("doc"), F.explode(band_structs).alias("bb")).select(
        "doc", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    return sh, per_doc, banded


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate candidate pairs, verified with
    exact Jaccard. Returns (doc1, doc2, jaccard_est, jaccard).

    Pipeline: signatures → explode into ``bands`` band-hashes → self-join on
    (band index, band hash) → distinct candidate pairs → exact verification
    via the inverted-index jaccard join restricted to candidates.
    jaccard_est is the fraction of agreeing minhashes (the unbiased sketch
    estimate)."""
    sh, per_doc, banded = banded_minhash_tables(
        df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
    )
    # Left to Spark's LRU eviction: the returned plan reads the
    # signatures from several join arms, so releasing them before the
    # caller's action would recompute the groupBy per arm.
    per_doc.cache()
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))
        .distinct()
    )
    return verify_candidate_pairs(
        cand, sh, per_doc, sh, per_doc, num_hashes=num_hashes, min_jaccard=min_jaccard
    )


def verify_candidate_pairs(
    cand: DataFrame,
    sh1: DataFrame,
    per_doc1: DataFrame,
    sh2: DataFrame,
    per_doc2: DataFrame,
    num_hashes: int = 32,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Sketch-estimate + exact-Jaccard verification of candidate pairs
    ``(doc1, doc2)``, with doc1 resolved against side-1 tables and doc2
    against side-2 (both sides as produced by
    :func:`banded_minhash_tables`). Sides may be the same corpus (the
    batch self-join path) or different ones (the streaming
    against-history probe, where side 1 is the bounded fetched-candidate
    slice of the kept-docs store). Cost is restricted to candidate rows
    on every join — no full shingle set ever crosses a shuffle."""
    # Sketch estimate: two joins bring each side's signature + set size
    # (k+1 longs — never the shingle sets themselves).
    p1 = per_doc1.select(
        F.col("doc").alias("doc1"), F.col("mh").alias("mh1"), F.col("n_sh").alias("n1")
    )
    p2 = per_doc2.select(
        F.col("doc").alias("doc2"), F.col("mh").alias("mh2"), F.col("n_sh").alias("n2")
    )
    agree = F.size(
        F.filter(
            F.zip_with("mh1", "mh2", lambda x, y: x == y), lambda m: m
        )
    )
    est = cand.join(p1, "doc1").join(p2, "doc2").select(
        "doc1", "doc2",
        (agree / F.lit(num_hashes)).cast("double").alias("jaccard_est"),
        "n1", "n2",
    )

    # Exact verification re-joins the candidate pairs against the shingle
    # table (candidate-restricted inverted join): the intersection count is
    # a groupBy over rows that exist only for candidate pairs, so memory
    # per task is O(1) and no full shingle set ever crosses a shuffle —
    # the corpus-scale shape the collect_set variant lacked.
    s1 = sh1.select(F.col("doc").alias("doc1"), "s")
    s2 = sh2.select(F.col("doc").alias("doc2"), "s")
    inter = (
        cand.join(s1, "doc1")
        .join(s2, ["doc2", "s"])
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        est.join(inter, ["doc1", "doc2"], "left")
        .withColumn("inter", F.coalesce(F.col("inter"), F.lit(0)))
        .select(
            "doc1",
            "doc2",
            "jaccard_est",
            (F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")).cast("double")).alias(
                "jaccard"
            ),
        )
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per doc from token frequencies.

    bit_i(doc) = 1 iff sum over tokens of (+1 if bit_i(xxhash64(token)) else
    -1) > 0. Expressed as 64 conditional sums in one groupBy — map-side
    combinable, shuffle payload is 64 longs per doc."""
    toks = (
        _spread(df, id_col)
        .select(F.col(id_col).alias("doc"), F.explode(F.split(F.col(text_col), " ")).alias("t"))
        .withColumn("h", F.xxhash64("t"))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{i}")
        for i in range(64)
    ]
    summed = toks.groupBy("doc").agg(*bit_sums)
    # shiftleft wraps at bit 63 like Java (1<<63 would overflow a Python lit)
    sig = sum(
        F.when(F.col(f"s_{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(64)
    )
    return summed.select("doc", sig.alias("simhash"))


def simhash_signatures_md5(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Engine-portable SimHash twin of :func:`simhash_signatures`: the
    same one-explode / 60-conditional-sums groupBy with xxhash64 swapped
    for the 60-bit md5 prefix, so a DuckDB oracle reproduces every
    signature bit-exactly (see :func:`minhash_signatures_md5` for the
    rationale — a sketch is otherwise only testable against itself).
    60 bits rather than 64 because the portable hash is the 15-hex-digit
    md5 prefix; the bit-majority construction is unchanged."""
    hx = F.substring(F.md5(F.col("t")), 1, 15)
    toks = (
        _spread(df, id_col)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(F.split(F.col(text_col), " ")).alias("t"),
        )
        .withColumn("h", F.conv(hx, 16, 10).cast("long"))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{i}")
        for i in range(60)
    ]
    summed = toks.groupBy("doc").agg(*bit_sums)
    sig = sum(
        F.when(F.col(f"s_{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(60)
    )
    return summed.select("doc", sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance, banded join.

    Split the 64-bit signature into 4 16-bit bands; any pair within hamming
    distance 3 must agree on at least one band (pigeonhole), so the default
    threshold is the bound at which the banded candidates are COMPLETE.
    Larger ``max_hamming`` values are allowed but best-effort: a pair can
    differ in up to ``max_hamming`` bits spread one-per-band and never
    share a band — such pairs are silently absent (the standard banded-LSH
    recall trade-off; raise the band count, not the threshold, for a
    stronger guarantee). Returns (doc1, doc2, hamming)."""
    sig = simhash_signatures(df, id_col, text_col).cache()
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * 16).bitwiseAND(F.lit(0xFFFF)).alias("bh"),
            )
            for b in range(4)
        ]
    )
    banded = sig.select("doc", "simhash", F.explode(bands).alias("bb")).select(
        "doc", "simhash", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc1"),
            F.col("b.doc").alias("doc2"),
            F.col("a.simhash").alias("h1"),
            F.col("b.simhash").alias("h2"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc1", "doc2", "hamming")
    )


def scrub_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
    keep_canonical: bool = False,
) -> DataFrame:
    """Exact substring dedup WITH REMOVAL (Lee et al. 2021 shape, public
    algorithm): every token covered by an ``n``-token span appearing in
    ``>= min_docs`` distinct documents is removed — from ALL documents
    by default (boilerplate scrub), or, with ``keep_canonical=True``,
    from every document EXCEPT the span's canonical one (min id that
    contains it), so one copy of each duplicated passage survives into
    the training corpus — the paper's semantics. A token is removed if
    ANY foreign-duplicated span covers it, even when a canonical-here
    span also does (removal wins: the token sits inside content
    duplicated elsewhere). Corollary: the one-copy guarantee holds per
    span only when it is not overlapped by another duplicated span with
    a DIFFERENT canonical doc — overlapping spans canonicalized to
    different docs can scrub the overlap's tokens from every copy,
    including both canonicals.

    Returns ``(id_col, n_tokens, n_removed, kept_text)`` — kept tokens
    re-joined with single spaces (callers hash it or write it back).

    Scale shape: spans explode once; the duplicated-span set is one
    map-side-combinable aggregation; membership is a shuffled
    semi-/equi-join on the span string (never a forced broadcast — at
    100 TB the boilerplate set is corpus-sized); covered-position sets
    are bounded per doc by its own token count; and the final token
    filter is a Catalyst two-arg (element, index) lambda — no Python
    anywhere."""
    toks = F.split(F.col(text_col), " ")
    t = df.select(id_col, toks.alias("toks"))
    spans = (
        t.filter(F.size("toks") >= n)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                    lambda i: F.struct(
                        i.alias("i"),
                        F.concat_ws(
                            " ", F.slice(F.col("toks"), i, F.lit(n))
                        ).alias("span"),
                    ),
                )
            ).alias("s"),
        )
        .select(id_col, "s.i", "s.span")
    )
    dups = (
        spans.groupBy("span")
        .agg(
            F.count_distinct(id_col).alias("nd"),
            F.min(id_col).alias("canonical"),
        )
        .filter(F.col("nd") >= min_docs)
        .select("span", "canonical")
    )
    if keep_canonical:
        hits = spans.join(dups, "span").filter(
            F.col(id_col) != F.col("canonical")
        )
    else:
        hits = spans.join(dups.select("span"), "span", "left_semi")
    cov = (
        hits
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.sequence(F.col("i"), F.col("i") + (n - 1))
                        )
                    )
                )
            ).alias("covered")
        )
    )
    covered = F.coalesce(F.col("covered"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.array_contains(covered, (i + 1).cast("int")),
    )
    return (
        t.join(cov, id_col, "left")
        .select(
            id_col,
            F.size("toks").cast("long").alias("n_tokens"),
            (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
            F.concat_ws(" ", kept).alias("kept_text"),
        )
    )


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 1,
    q: int = 3,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """Edit-distance similarity self-join via q-gram candidate filtering
    — fuzzy catalog/name dedup (the reference's substring search finds
    shared literal text, app/api/main.py:135-151; this finds names a
    typo apart, which substring match cannot).

    Semantics: all unordered pairs of DISTINCT name values with
    ``levenshtein <= max_dist``, among names of length >= q*(max_dist+1)
    (shorter names are excluded — see soundness). Returns
    (name_a, name_b, dist, n_a, n_b) where n_a/n_b are the input row
    counts bearing each name (name_a < name_b).

    Shape at scale — never an all-pairs compare:

    1. DISTINCT-first: names collapse by a map-side-combinable groupBy
       before any pairing (a 20k-part catalog has ~64 distinct names;
       a 100 TB log's name column collapses the same way).
    2. Candidate generation is an equi-join on shared q-grams (an
       inverted index over the distinct names), pre-filtered by
       ``abs(len(a)-len(b)) <= max_dist`` (length is 1-Lipschitz in edit
       distance). Pair fan-out is bounded by gram co-occurrence, not
       name-count².
    3. The levenshtein verify runs once per distinct candidate pair.

    Soundness of the gram filter: one edit destroys at most q of a
    string's (len-q+1) q-grams, so two strings within ``max_dist`` edits
    share at least len - q + 1 - max_dist*q grams — positive whenever
    len >= q*(max_dist+1), which the length floor guarantees. Hot grams
    (a gram shared by many names) are the skew lever: ``max_gram_freq``
    drops grams present in more than that many DISTINCT names before
    the join (broadcast anti-join, exactly jaccard_pairs' df-cap).
    Unlike there, the cap here is OFF by default because it trades
    COMPLETENESS, not metric definition: a pair whose every shared gram
    is hot is never generated, so capped output is a SUBSET of the
    exact answer (pinned by ``test_fuzzy_name_pairs_gram_cap_is_subset``)
    — turn it on when the corpus has boilerplate gram floods and
    documented recall loss is acceptable, or lengthen q to thin grams
    without losing soundness.
    """
    min_len = q * (max_dist + 1)
    names = (
        df.filter(F.length(F.col(name_col)) >= min_len)
        .groupBy(F.col(name_col).alias("name"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grams = names.select(
        "name",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("name") - F.lit(q - 1)),
                lambda i: F.col("name").substr(i, F.lit(q)),
            )
        ).alias("gram"),
    ).distinct()
    if max_gram_freq is not None:
        hot = (
            grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_gram_freq)
            .select("gram")
        )
        grams = grams.join(F.broadcast(hot), "gram", "left_anti")
    cand = (
        grams.alias("a")
        .join(
            grams.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.name") < F.col("b.name"))
            # length is 1-Lipschitz in edit distance: cut far pairs
            # INSIDE the join, before they inflate the distinct's shuffle
            & (
                F.abs(F.length(F.col("a.name")) - F.length(F.col("b.name")))
                <= max_dist
            ),
        )
        .select(F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b"))
        .distinct()
    )
    verified = cand.withColumn(
        "dist", F.levenshtein("name_a", "name_b").cast("int")
    ).filter(F.col("dist") <= max_dist)
    na = names.select(F.col("name").alias("name_a"), F.col("n").alias("n_a"))
    nb = names.select(F.col("name").alias("name_b"), F.col("n").alias("n_b"))
    return verified.join(na, "name_a").join(nb, "name_b").select(
        "name_a", "name_b", "dist", "n_a", "n_b"
    )
