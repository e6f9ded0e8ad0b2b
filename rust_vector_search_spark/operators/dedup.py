"""Deduplication operators — exact (the reference's O3) plus the
near-duplicate family a large-scale training-data pipeline needs
(MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine).

Reference mapping: exact dedup at ``/root/reference/src/lib.rs:64-79``
drops vectors whose full f32 bit pattern was already seen, keeping the
FIRST occurrence (modulo its off-by-one quirk at ``src/lib.rs:71`` which
skips row 0 — deliberately NOT reproduced, SURVEY §1.5.1). Spark compares
float arrays by value, so "first occurrence wins" is a min-id-per-group,
one shuffle, no bit-pattern key needed (``src/vector.rs:25-31`` exists
only because f32 isn't Hash in Rust).

Scale design notes:
  - exact dedup: single hash-aggregate shuffle on the dedup key; Spark
    does map-side partial aggregation automatically.
  - MinHash/SimHash: signatures are computed map-side from md5 (a
    deterministic, engine-portable hash); the LSH band join shuffles only
    (id, band_key) pairs — tiny vs the documents themselves. Candidate
    verification joins back to shingle sets only for candidate pairs.
  - all similarity joins avoid the quadratic cross join: candidates come
    from band/bucket equi-joins; the exact-pair verify is bounded by the
    candidate count, and AQE's skew-join splitting handles hot buckets
    (stop-shingle-like skew).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

from ..functions.vector import cosine_sim

__all__ = [
    "exact_dedup",
    "exact_dedup_text",
    "word_shingles",
    "MINHASH_PRIME",
    "minhash_coeffs",
    "minhash_signature",
    "minhash_lsh_pairs",
    "ngram_jaccard_join",
    "connected_components",
    "simhash",
    "simhash_blocked_pairs",
    "simhash_near_dup_pairs",
    "embedding_cosine_pairs",
]


def exact_dedup(
    df: DataFrame, key_cols: list[str], id_col: str
) -> DataFrame:
    """First-occurrence-wins exact dedup (O3, ``src/lib.rs:64-79``):
    keeps the row with the smallest id per duplicate group. Implemented
    as min-id-per-group + semi-join rather than ``dropDuplicates`` so
    WHICH duplicate survives is pinned (dropDuplicates keeps an
    arbitrary row — not oracle-reproducible)."""
    survivors = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return df.join(survivors, [*key_cols, id_col], "left_semi")


def exact_dedup_text(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact text dedup by md5 digest — the content-hash form used at
    corpus scale (hash first so the shuffle key is 32 bytes, not the
    document body)."""
    keyed = docs.withColumn("_h", F.md5(F.col(text_col)))
    survivors = keyed.groupBy("_h").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dupes")
    )
    return survivors.select(id_col, "n_dupes", F.col("_h").alias("content_md5"))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a whitespace-tokenized text.
    Pure HOF expression (no UDF), built as a zip_with chain over n
    shifted slices of the word array.

    Why slices + zip_with and not transform-over-indices with
    element_at: the word array is an ARGUMENT of slice/zip_with, so the
    split evaluates a constant number of times per row — whereas
    referencing it inside a transform lambda re-evaluates the split per
    ELEMENT (measured ~600 re-splits per ~200-word doc: the shingling
    step alone cost more than all 16 MinHash permutations combined)."""
    words = F.split(text, " ")
    if n == 1:
        return F.array_distinct(words)
    m = F.size(words) - F.lit(n - 1)  # shingle count for long-enough docs
    acc = F.slice(words, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(words, j + 1, m),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    # guard first: slice with a non-positive length throws, but CaseWhen
    # evaluates only the matched branch, so short docs never reach it
    return F.when(F.size(words) >= n, F.array_distinct(acc)).otherwise(
        F.array().cast("array<string>")
    )


def _positional_shingles(text: Column, n: int) -> Column:
    """ALL word n-gram shingles of a text in token order (index i holds
    tokens [i, i+n)), duplicates preserved — the positional sibling of
    ``word_shingles`` (same zip_with-over-shifted-slices form, same
    per-element re-evaluation rationale), for substring-level dedup
    where the window POSITION is the payload."""
    words = F.split(text, " ")
    if n == 1:
        return words
    m = F.size(words) - F.lit(n - 1)
    acc = F.slice(words, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(words, j + 1, m),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    return F.when(F.size(words) >= n, acc).otherwise(
        F.array().cast("array<string>")
    )


def substring_dup_spans(
    docs: DataFrame,
    n_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring/chunk-level EXACT dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better" — the n-token-overlap
    operator every LLM-data pipeline runs; the doc-level twins are
    ``exact_dedup``/MinHash above). A token window of length ``n_tokens``
    is DUPLICATED when the identical token sequence occurs in at least
    one OTHER document; runs of overlapping duplicated windows merge
    into maximal spans. Returns one row per maximal span:
    (doc_id, span_start, span_end, n_windows) with 0-based INCLUSIVE
    token indices — the ranges a pipeline cuts or masks before training.

    Scale shape — exactly two slim shuffles, no pair enumeration:
      1. windows hash to md5 keys; "appears in another doc" is
         ``min(doc_id) != max(doc_id)`` over a WINDOW partitioned by the
         key — replacing the usual countDistinct + join-back with one
         exchange of (doc_id, pos, hash) rows. A boilerplate shingle
         shared by a million documents is one skewed agg key (AQE skew
         handling), never 10^12 emitted pairs.
      2. the island merge (pos − row_number) is one window on doc_id.
    The token payload itself never crosses an exchange. Keying on the
    128-bit md5 (not the raw string) is the standard Lee-et-al trade —
    collisions are ~2^-64 improbable, and the DuckDB oracle replays the
    identical hash so the parity check is exact either way."""
    sh = docs.select(
        F.col(id_col),
        F.posexplode(_positional_shingles(F.col(text_col), n_tokens)).alias(
            "pos", "_s"
        ),
    ).select(F.col(id_col), F.col("pos"), F.md5("_s").alias("_h"))
    w_h = Window.partitionBy("_h")
    dup = (
        sh.select(
            F.col(id_col),
            "pos",
            F.min(id_col).over(w_h).alias("_mn"),
            F.max(id_col).over(w_h).alias("_mx"),
        )
        .filter(F.col("_mn") != F.col("_mx"))
        .select(F.col(id_col), "pos")
    )
    w_d = Window.partitionBy(id_col).orderBy("pos")
    isl = dup.withColumn("_grp", F.col("pos") - F.row_number().over(w_d))
    return (
        isl.groupBy(id_col, "_grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(n_tokens - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .select(F.col(id_col), "span_start", "span_end", "n_windows")
    )


def decontaminate_spans(
    train: DataFrame,
    benchmark: DataFrame,
    n_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Llama-style
    n-gram overlap filter every LLM training pipeline runs before the
    training set ships): every ``n_tokens``-token window of a TRAIN
    document whose exact token sequence occurs anywhere in the BENCHMARK
    corpus, merged into maximal (doc_id, span_start, span_end) token
    ranges — the spans a pipeline excises (or whole documents it drops)
    to keep eval sets out of the training data. Same span contract as
    ``substring_dup_spans`` (0-based inclusive token indices).

    Scale shape — benchmark suites are MBs against a 100-TB train
    corpus, so the match is a BROADCAST left-semi join on the window's
    md5 key: the train side never shuffles to find contamination. The
    distinct benchmark key set is tiny (|benchmark shingles| rows of one
    128-bit column) and is the only thing that moves. The single
    exchange in the whole plan is the per-doc island-merge window; the
    token payload never crosses it (only (doc_id, pos) survive the
    semi-join). Pass ``broadcast_benchmark=False`` for a benchmark too
    large to broadcast — the match degrades to a shuffled equi-join on
    the key, still never a pair enumeration.
    """
    bench_keys = benchmark.select(
        F.explode(
            _positional_shingles(F.col(text_col), n_tokens)
        ).alias("_s")
    ).select(F.md5("_s").alias("_h")).distinct()
    if broadcast_benchmark:
        bench_keys = F.broadcast(bench_keys)
    windows = train.select(
        F.col(id_col),
        F.posexplode(_positional_shingles(F.col(text_col), n_tokens)).alias(
            "pos", "_s"
        ),
    ).select(F.col(id_col), F.col("pos"), F.md5("_s").alias("_h"))
    hit = windows.join(bench_keys, "_h", "left_semi").select(F.col(id_col), "pos")
    w_d = Window.partitionBy(id_col).orderBy("pos")
    isl = hit.withColumn("_grp", F.col("pos") - F.row_number().over(w_d))
    return (
        isl.groupBy(id_col, "_grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(n_tokens - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .select(F.col(id_col), "span_start", "span_end", "n_windows")
    )


def substring_dedup_clean(
    docs: DataFrame,
    n_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The OUTPUT side of Lee-et-al substring dedup: excise duplicated
    passages and emit the cleaned corpus. A window is CUT from a
    document when its exact token sequence also occurs in another
    document AND this document is not the window's canonical owner
    (``min(doc_id)`` over the window hash — so exactly one copy of
    every duplicated passage survives, in its lowest-id document).
    Tokens covered by any cut window are removed; the rest re-join in
    position order. One row per input document:
    (doc_id, n_tokens_kept, n_tokens_cut, clean_text) — an exact
    duplicate of a lower-id document comes back with an empty
    ``clean_text``, which is what makes this the drop-OR-excise
    primitive (filter n_tokens_kept = 0 to drop).

    Scale shape — slim keys only, bounded expansion: the ownership
    decision is the same single (doc_id, pos, hash) exchange as
    ``substring_dup_spans``; cut windows expand to at most
    ``n_tokens`` (doc_id, pos) rows each BEFORE the distinct; the
    anti-join and the final per-doc re-join shuffle (doc_id, pos,
    token) — the only stage where token payload moves, and it is the
    unavoidable one (the output IS the text). No pair enumeration
    anywhere; a boilerplate window shared by a million docs is one
    skewed window key, handled like the spans op."""
    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )
    windows = docs.select(
        F.col(id_col),
        F.posexplode(_positional_shingles(F.col(text_col), n_tokens)).alias(
            "wpos", "_s"
        ),
    ).select(F.col(id_col), F.col("wpos"), F.md5("_s").alias("_h"))
    w_h = Window.partitionBy("_h")
    cut_wins = (
        windows.select(
            F.col(id_col),
            "wpos",
            F.min(id_col).over(w_h).alias("_mn"),
            F.max(id_col).over(w_h).alias("_mx"),
        )
        .filter((F.col("_mn") != F.col("_mx")) & (F.col(id_col) != F.col("_mn")))
        .select(F.col(id_col), "wpos")
    )
    cut_pos = cut_wins.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("wpos"), F.col("wpos") + F.lit(n_tokens - 1))).alias(
            "pos"
        ),
    ).distinct()
    kept = toks.join(cut_pos, [id_col, "pos"], "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("_clean"),
    )
    n_toks = F.size(F.split(F.col(text_col), " ")).cast("long")
    return (
        docs.select(F.col(id_col), n_toks.alias("_n_toks"))
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_n_kept"), F.lit(0).cast("long")).alias(
                "n_tokens_kept"
            ),
            (
                F.col("_n_toks") - F.coalesce(F.col("_n_kept"), F.lit(0))
            ).cast("long").alias("n_tokens_cut"),
            F.coalesce(F.col("_clean"), F.lit("")).alias("clean_text"),
        )
    )


MINHASH_PRIME = 2147483647  # 2^31 - 1: products a·v stay < 2^62 (64-bit safe)


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed seeded affine coefficients (a_j ∈ [1, p), b_j ∈ [0, p)) for
    the universal-hash MinHash family. Deterministic: both the Spark
    expressions and the DuckDB oracle SQL inline these exact literals,
    so engine portability holds by construction."""
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures via the classic universal-hash family:
    each shingle hashes ONCE (first 8 md5 hex chars → 31-bit integer),
    then sig_j = min over shingles of (a_j·v + b_j) mod p with
    p = 2³¹−1 and fixed seeded coefficients (``minhash_coeffs``).

    Why this shape: the md5 base hash is bit-identical in every engine
    (which keeps the LSH pipeline oracle-checkable), and the per-j
    permutations are exact 63-bit-safe integer arithmetic — one md5 per
    shingle total, not one per (shingle, permutation) (the salted-md5
    form measured 7.2 s of the 7.6 s sf0.1 pipeline; n_hashes md5
    passes over every shingle dominated everything else). All n_hashes
    minima fold in ONE ``aggregate`` expression so the md5 pass appears
    once in the plan — separate per-j columns would each re-inline the
    shingle-hash transform under Catalyst's projection collapse,
    silently restoring the n_hashes× md5 cost.
    Returns (id, shingles, sigs ARRAY<BIGINT> of length num_hashes)."""
    sh = docs.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("shingles")
    ).filter(F.size("shingles") > 0)  # docs too short to shingle have no signature
    coeffs = F.array(
        *[
            F.struct(
                F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b")
            )
            for a, b in minhash_coeffs(num_hashes)
        ]
    )
    hv = F.transform(
        F.col("shingles"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_PRIME),
    )
    # p is a strict upper bound for every hash value ⇒ a valid +inf seed
    sigs = F.aggregate(
        hv,
        F.array_repeat(F.lit(MINHASH_PRIME).cast("long"), num_hashes),
        lambda acc, v: F.zip_with(
            acc,
            coeffs,
            lambda m, c: F.least(
                m, (v * c["a"] + c["b"]) % F.lit(MINHASH_PRIME)
            ),
        ),
    )
    return sh.select(F.col(id_col), F.col("shingles"), sigs.alias("sigs"))


def band_key_expr(bands: int, rows: int, sigs_col: str = "sigs") -> Column:
    """ARRAY of ``bands`` md5 band keys over a MinHash signature column:
    band b's key hashes the concatenation of its ``rows`` signature
    values (classic banded LSH; two docs collide on a band iff that
    band's rows are all equal). Engine-portable: md5 over decimal-string
    values replays bitwise in DuckDB."""
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.element_at(sigs_col, b * rows + r + 1).cast("string")
                        for r in range(rows)
                    ],
                )
            )
            for b in range(bands)
        ]
    )


def minhash_band_keys(
    docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 16,
    shingle_n: int = 3,
    sig: DataFrame | None = None,
) -> DataFrame:
    """(id, band, band_key) for every document with ≥ 1 shingle — the
    probe/index unit of banded LSH as a standalone surface (the
    streaming incremental dedup writes these rows to a persistent band
    index and probes arrivals against it). Pass ``sig`` (a
    ``minhash_signature`` frame, e.g. checkpointed and shared with a
    shingle-hash projection) to skip recomputing signatures."""
    if sig is None:
        if docs is None:
            raise ValueError("minhash_band_keys: pass docs or sig")
        sig = minhash_signature(docs, text_col, id_col, num_hashes, shingle_n)
    return sig.select(
        F.col(id_col),
        F.posexplode(band_key_expr(bands, num_hashes // bands)).alias(
            "band", "band_key"
        ),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs with exact-Jaccard
    verification. Band keys are md5 over each band's signature rows; docs
    sharing ANY band key become candidates (banded LSH); candidates are
    then verified with exact shingle-set Jaccard.

    Returns (doc_id_a, doc_id_b, jaccard) for candidate pairs — the
    exact verified Jaccard only (banded signatures gate candidacy but no
    signature-based estimate column is emitted). Shuffle volume:
    |docs|·bands band keys + candidate pairs only — never the quadratic
    pair space."""
    rows = num_hashes // bands
    # materialize signatures once — the banding branch and the verify
    # branch both consume them, and the 16-way salted-md5 computation is
    # the most expensive map-side step in the pipeline.
    # r15: the signature map work is CPU-per-row, not bytes — when the
    # caller's lineage ends in an exchange (the pipeline's exact-dedup
    # window), AQE's byte-sized coalescing (1 MB floor) ran the whole
    # shingle+md5+fold stage on 1-2 tasks (measured: 2.3 s CPU on ONE
    # task at sf0.1). Lower the floor for THIS materialization only;
    # a session-wide floor was measured and rejected (it inflates task
    # counts in iterative rows that don't want it).
    spark = docs.sparkSession
    _floor_key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    _old_floor = spark.conf.get(_floor_key, None)
    # r16 A/B (VERDICT r15 #1): floor kept — wins 4/5 alternating pairs
    # (median 2.689 vs 2.730 s). NOTE: the conf flip assumes a single-
    # threaded session (a concurrent query momentarily sees the 64k
    # floor); at real scale this stage's input exceeds any floor and
    # the override is a no-op (ADVICE r15).
    try:
        spark.conf.set(_floor_key, "64k")
        sig = minhash_signature(docs, text_col, id_col, num_hashes, shingle_n
                                ).localCheckpoint(eager=True)
    finally:
        if _old_floor is None:
            spark.conf.unset(_floor_key)
        else:
            spark.conf.set(_floor_key, _old_floor)
    # sig is materialized (eager checkpoint) before these projections, so
    # the element_at references read the stored array — no recompute
    band_keys = band_key_expr(bands, rows)
    # band join carries IDS ONLY — never the shingle arrays (which would
    # be duplicated ×bands through the shuffle); shingles are joined back
    # for candidate pairs only, bounding the big-payload shuffle by the
    # candidate count
    banded = sig.select(F.col(id_col), F.posexplode(band_keys).alias("band", "band_key"))
    left = banded.select(F.col(id_col).alias("doc_id_a"), "band", "band_key")
    right = banded.select(F.col(id_col).alias("doc_id_b"), "band", "band_key")
    cand = (
        left.join(right, ["band", "band_key"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    # exact-Jaccard verify on 64-bit-hashed shingle arrays: long-array
    # array_intersect is ~8× cheaper than string hashsets (1.2s vs 10s+
    # at sf0.1 for both the string-intersect and exploded-join forms).
    # Counts equal the string intersection unless xxhash64 collides
    # within a pair's shingles (P ≈ n²/2⁶⁵ per pair — negligible).
    shh = sig.select(
        F.col(id_col),
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("h"),
    )
    cand = (
        cand.join(
            shh.select(F.col(id_col).alias("doc_id_a"), F.col("h").alias("h_a")),
            "doc_id_a",
        )
        .join(
            shh.select(F.col(id_col).alias("doc_id_b"), F.col("h").alias("h_b")),
            "doc_id_b",
        )
    )
    inter = F.size(F.array_intersect("h_a", "h_b")).cast("double")
    union = (F.size("h_a") + F.size("h_b")).cast("double") - inter
    return cand.select(
        "doc_id_a",
        "doc_id_b",
        (inter / union).alias("jaccard"),
    )


def ngram_jaccard_join(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 1,
    threshold: float = 0.5,
    per_doc_top_k: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join via PREFIX FILTERING (the
    SSJoin/PPJoin family: Chaudhuri et al. ICDE'06, Xiao et al. WWW'08).

    A naive inverted-index join degenerates toward quadratic on
    low-entropy vocabularies: every stop-shingle pairs most of the
    corpus. Prefix filtering fixes that WITHOUT losing recall: order
    tokens globally by (document frequency, token) and index only each
    document's first ⌊(1−t)·|d|⌋+1 tokens under that order — any pair
    with J ≥ t must collide inside these prefixes. Stop-shingles sort
    LAST (highest df), so they are structurally excluded from candidate
    generation unless a document is tiny; no lossy df cap is needed and
    the result is still the exact J ≥ t pair set.

    Verification computes exact Jaccard on xxhash64-hashed shingle
    arrays (array_intersect on longs — same trick as the MinHash verify),
    bounded by the candidate count, never the pair space.

    ``per_doc_top_k``: the J ≥ t PAIR set itself is output-bound — on a
    dense near-dup corpus it grows with pair density (~3M pairs at
    sf0.1), not corpus size. With ``per_doc_top_k`` set, pairs are
    symmetrized to (doc_id, partner_id) and only each document's k most
    similar partners are kept (rank by jaccard desc, partner_id asc), so
    the result is ≤ k·|docs| rows — the shape a dedup pipeline actually
    consumes. Returns (doc_id, partner_id, jaccard, rnk) in that mode,
    (doc_id_a, doc_id_b, jaccard) canonical pairs otherwise."""
    sh = docs.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("shingles")
    )
    sizes = sh.select(F.col(id_col), F.col("shingles"), F.size("shingles").alias("n_sh"))
    tok = sizes.select(F.col(id_col), F.col("n_sh"), F.explode("shingles").alias("s"))
    doc_freq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    rk_w = Window.partitionBy(id_col).orderBy(F.col("df").asc(), F.col("s").asc())
    prefix = (
        tok.join(doc_freq, "s")
        .withColumn("rk", F.row_number().over(rk_w))
        .filter(
            F.col("rk")
            <= F.floor(F.lit(1.0 - threshold) * F.col("n_sh")).cast("int") + 1
        )
    )
    a = prefix.select(F.col(id_col).alias("doc_id_a"), "s")
    b = prefix.select(F.col(id_col).alias("doc_id_b"), "s")
    cand = (
        a.join(b, "s")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    hh = sizes.select(
        F.col(id_col), F.transform("shingles", lambda s: F.xxhash64(s)).alias("h")
    )
    paired = cand.join(
        hh.select(F.col(id_col).alias("doc_id_a"), F.col("h").alias("h_a")), "doc_id_a"
    ).join(
        hh.select(F.col(id_col).alias("doc_id_b"), F.col("h").alias("h_b")), "doc_id_b"
    )
    inter = F.size(F.array_intersect("h_a", "h_b")).cast("double")
    union = (F.size("h_a") + F.size("h_b")).cast("double") - inter
    pairs = paired.select(
        "doc_id_a", "doc_id_b", (inter / union).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)
    if per_doc_top_k is None:
        return pairs
    sym = pairs.select(
        F.col("doc_id_a").alias("doc_id"),
        F.col("doc_id_b").alias("partner_id"),
        "jaccard",
    ).unionByName(
        pairs.select(
            F.col("doc_id_b").alias("doc_id"),
            F.col("doc_id_a").alias("partner_id"),
            "jaccard",
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("partner_id").asc()
    )
    return sym.withColumn("rnk", F.row_number().over(w).cast("long")).filter(
        F.col("rnk") <= per_doc_top_k
    )


def _md5_32bit(c: Column) -> Column:
    """First 8 hex chars of md5 → BIGINT in [0, 2^32) — an engine-portable
    32-bit hash (DuckDB twin: instr-based hex digit decode; values match
    bit-for-bit, the twin just decodes hex digit-by-digit)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def simhash(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """32-bit SimHash over distinct words: bit i of the fingerprint is the
    sign of Σ_words (word_hash_bit_i ? +1 : −1).

    ZERO-shuffle form: the whole fingerprint folds per row inside one
    ``aggregate`` expression — the word-hash array is the fold's
    argument (evaluated once), the accumulator carries (n_words, 32 bit
    counters), and the finish lambda packs the majority vote into the
    fingerprint. The earlier explode → groupBy(id) form paid a
    wordcount-shaped shuffle of the whole corpus token stream — pure
    map-side work now, which is the difference between one pass and a
    corpus-wide exchange at 100 TB. Returns (id, simhash BIGINT).

    Contract: ONE output row PER INPUT ROW. Callers with duplicate
    ``id_col`` values get one fingerprint per row, not a merged per-id
    fingerprint (the pre-r5 explode+groupBy form merged them); dedup on
    ``id_col`` first if per-id semantics are required."""
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    hv = F.transform(
        F.array_distinct(F.split(F.col(text_col), " ")),
        lambda w: _md5_32bit(w),
    )
    zero = F.struct(
        F.lit(0).cast("long").alias("n"),
        F.array_repeat(F.lit(0).cast("long"), bits).alias("c"),
    )
    fp = F.aggregate(
        hv,
        zero,
        lambda acc, v: F.struct(
            (acc["n"] + F.lit(1)).alias("n"),
            F.zip_with(
                acc["c"],
                masks,
                lambda c, m: c
                + F.when(v.bitwiseAND(m) != 0, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
            ).alias("c"),
        ),
        lambda acc: F.aggregate(
            F.zip_with(
                acc["c"],
                masks,
                lambda c, m: F.when(F.lit(2) * c - acc["n"] > 0, m).otherwise(
                    F.lit(0).cast("long")
                ),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )
    return docs.select(F.col(id_col), fp.alias("simhash"))


def simhash_blocked_pairs(
    fps: DataFrame,
    max_hamming: int,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    bits: int = 32,
    chunks: int | None = None,
) -> DataFrame:
    """Pigeonhole-blocked hamming pairs over a (id, fingerprint) table.

    The fingerprint is split into ``chunks`` bit blocks (near-even widths
    covering all ``bits``); a pair with hamming ≤ chunks−1 must share at
    least one exact block, so candidates come from ``chunks`` equi-joins
    on block values and exact hamming (bit_count of xor) filters them.

    ``chunks`` defaults to ``max_hamming + 1`` — the smallest count that
    makes the pigeonhole guarantee COMPLETE for the requested radius. An
    explicit ``chunks < max_hamming + 1`` is rejected (it would silently
    drop pairs whose differing bits span every block). NB the guarantee's
    price: block width = bits/chunks, so a wide radius on a narrow
    fingerprint (e.g. hamming ≤ 8 on 32 bits → 3-bit blocks) degenerates
    toward quadratic candidates; use a wider fingerprint instead.

    Returns (doc_id_a, doc_id_b, hamming ≤ max_hamming)."""
    if chunks is None:
        chunks = max_hamming + 1
    if chunks < max_hamming + 1:
        raise ValueError(
            f"chunks={chunks} cannot guarantee hamming<={max_hamming} recall; "
            f"need chunks >= {max_hamming + 1}"
        )
    if chunks > bits:
        raise ValueError(f"chunks={chunks} > bits={bits}")
    # near-even block boundaries covering all `bits` (widths differ by ≤1)
    bounds = [c * bits // chunks for c in range(chunks + 1)]
    blocks = []
    for c in range(chunks):
        lo, width = bounds[c], bounds[c + 1] - bounds[c]
        mask = (1 << width) - 1
        blocks.append(
            F.shiftright(F.col(fp_col), lo).bitwiseAND(F.lit(mask)).cast("long")
        )
    # materialize the fingerprint table ONCE before the self-join: both
    # join sides derive from `fps`, and without a checkpoint each side's
    # map stage re-runs the whole upstream lineage — for
    # simhash_near_dup_pairs that is the per-word fold (measured r15:
    # ~46 s CPU per pass over sf0.1 docs, the dominant cost of every
    # simhash bench row; guide §2.4 "share one computation"). The
    # checkpointed rows are (id, fingerprint) — 16 bytes each.
    fps = fps.select(F.col(id_col), F.col(fp_col)).localCheckpoint(eager=True)
    blocked = fps.select(
        F.col(id_col),
        F.col(fp_col),
        F.posexplode(F.array(*blocks)).alias("blk", "blk_val"),
    )
    a = blocked.select(
        F.col(id_col).alias("doc_id_a"), F.col(fp_col).alias("h_a"), "blk", "blk_val"
    )
    b = blocked.select(
        F.col(id_col).alias("doc_id_b"), F.col(fp_col).alias("h_b"), "blk", "blk_val"
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long")
    # hamming-filter BEFORE the dedup shuffle: the xor/bit_count predicate
    # is a narrow map-side expression, so candidates that fail the radius
    # never enter the dropDuplicates exchange (the join fan-out is the
    # biggest row count in the pipeline — shuffle only survivors)
    return (
        a.join(b, ["blk", "blk_val"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    bits: int = 32,
    chunks: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: fingerprint (``simhash``) then pigeonhole
    block join (``simhash_blocked_pairs``). ``chunks`` is derived from
    ``max_hamming`` so the default is complete for the requested radius.
    Returns (doc_id_a, doc_id_b, hamming)."""
    fps = simhash(docs, text_col, id_col, bits)
    return simhash_blocked_pairs(
        fps, max_hamming, id_col=id_col, fp_col="simhash", bits=bits, chunks=chunks
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over an undirected pair list — the step that
    turns near-duplicate PAIRS into duplicate CLUSTERS (pick one
    survivor per component). Returns (node, component_id) where
    component_id = min node id in the component: a unique fixpoint, so
    the result is deterministic and oracle-checkable.

    Iterative min-label propagation: label(u) ← min(label(u),
    min_{v∈N(u)} label(v)) until no label changes (checked per round on
    a localCheckpointed frame; duplicate-cluster graphs are near-cliques
    from band/bucket joins, so convergence is 1–2 rounds in practice,
    bounded by graph diameter ≤ ``max_iters`` in general). Each round is
    one join + one groupBy on (node) — shuffle-bound, no driver-side
    graph, scales with the edge list.

    Raises ``RuntimeError`` if labels are still changing when
    ``max_iters`` is exhausted — a silent truncation would return WRONG
    component ids for any graph whose diameter exceeds the budget (e.g.
    a >20-hop near-dup chain). Callers on pathological graphs should
    raise ``max_iters`` (cost is O(diameter) rounds)."""
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select("u")
        .distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nb_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nb_label"), F.col("label"))
                ).alias("label"),
                (
                    F.coalesce(F.col("nb_label"), F.col("label")) < F.col("label")
                ).alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        # ONE job per round (r16, guide §2.4 / the star loop's checksum
        # pattern): the changed-check is a FULL aggregate, so it both
        # answers convergence and materializes the LAZY checkpoint in
        # the same driver round-trip. The previous eager checkpoint +
        # limit(1).count() pair was two jobs per round — and the limit's
        # short-circuit is illusory anyway: the checkpoint already paid
        # the full pass. (A partial action over a lazy localCheckpoint
        # would persist only the scanned partitions; a full aggregate is
        # the one safe materializer.)
        changed = new_labels.agg(
            F.sum(F.col("_changed").cast("int")).alias("n")
        ).collect()[0]["n"]
        labels = new_labels.drop("_changed")
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in max_iters={max_iters} "
            "rounds (graph diameter exceeds the budget); raise max_iters"
        )
    return labels.select("node", F.col("label").alias("component_id"))


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the O(log n)-round scale path next to
    ``connected_components``'s O(diameter) min-label propagation. Same
    output contract: (node, component_id) with component_id = min node
    id in the component, so the two are interchangeable and share an
    oracle.

    Each round is two half-steps over the edge list:

    - large-star: per node u, hook every strictly LARGER neighbor to
      m(u) = min(N(u) ∪ {u}) — one symmetric groupBy(min) + one
      equi-join, no neighborhood collect (skew-safe: the per-node state
      is a single min, never a neighbor list).
    - small-star: orient edges parent-ward (keep (u, v) with v < u),
      hook u and its smaller neighbors to m(u) — same min-agg + join
      shape.

    A chain of n nodes that needs n-1 min-label rounds converges in
    O(log n) alternations here (pointer-doubling through the stars).
    Convergence is detected when a full round leaves the edge multiset
    unchanged, checked with an order-independent (count,
    sum(xxhash64(u, v))) checksum — one tiny aggregate per round
    instead of a set-difference shuffle; a checksum collision would
    need ~2^32 edge sets, and the ``max_iters`` raise still bounds the
    loop. The round's checkpoint is LAZY and materialized by the
    checksum collect itself, so each contraction round is exactly ONE
    Spark job (r4 bench finding: the eager-checkpoint + checksum pair
    was two driver round-trips per round and dominated wall time at
    small SF). Convergence compares CONSECUTIVE round checksums, so
    confirming a fixpoint inherently costs one extra (cheap) round;
    that confirmation round is granted ON TOP of ``max_iters`` —
    ``max_iters=1`` on an already-converged input returns instead of
    raising (ADVICE r15). Raises ``RuntimeError`` only when the budget
    is exhausted with the edge set still moving between the last two
    checksummed rounds (never silently truncates).
    """
    # lazy checkpoints throughout: lineage must be truncated per round
    # (the loop would otherwise compound the plan), but materialization
    # can ride on the jobs the loop already runs — nodes on the final
    # join, edges on the initial checksum
    # slim-checkpoint the pair list FIRST (r15): nodes and edges both
    # derive from `pairs`, and nodes materializes on the final join —
    # without this shared checkpoint that job re-runs the caller's whole
    # pair pipeline (fingerprint + block join + dedup) a second time.
    # Lazy: the initial checksum job materializes it, storing only the
    # two id columns.
    pairs = pairs.select(F.col(a_col), F.col(b_col)).localCheckpoint(
        eager=False
    )
    nodes = (
        pairs.select(F.col(a_col).alias("node"))
        .unionByName(pairs.select(F.col(b_col).alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _checksum(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    # r15: no separate pre-loop checksum job — convergence compares
    # CONSECUTIVE round checksums (sig_r == sig_{r-1} ⇔ round r mapped
    # its input to itself ⇔ fixpoint, the same criterion), saving one
    # collect per call. Round 1's edge-set double read (sym's two union
    # branches) lands on the pair pipeline's final exchange, which Spark
    # reuses within the one job. Cost: an ALREADY-converged input takes
    # 2 rounds to confirm instead of 1.
    def _one_round(e: DataFrame) -> DataFrame:
        # large-star over the symmetric view: hook larger neighbors to m(u)
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("nb_min"))
        m = mins.select("u", F.least("u", "nb_min").alias("m"))
        # intermediate half-steps carry duplicates instead of paying a
        # distinct (= full-edge shuffle) each: every stage emits ≤ one row
        # per input edge (no blowup), the groupBy(min) aggregations absorb
        # duplicates in their map-side partial agg, and the single distinct
        # on the round's OUTPUT restores the canonical edge set the
        # convergence checksum needs — 1 dedup shuffle per round, not 3
        large = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star over parent-oriented edges: hook u and smaller
        # neighbors to m(u)
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            oriented.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        return small.localCheckpoint(eager=False)

    # Round PAIRING (two contractions per checksum collect, VERDICT r15
    # #4) was implemented and A/B-REJECTED in r16: 5+4 alternating pairs
    # on both star rows read the paired variant 1.64x SLOWER (e.g.
    # components_star 10.7 vs 6.5 s median). Two causes, both
    # structural: the un-checkpointed intermediate round is consumed 4x
    # by the next round's branches (sym union x2, min-agg, join) and
    # re-computes where the per-round checkpoint read blocks; and
    # fixpoint detection lags up to 3 extra full-edge-set rounds (pair
    # granularity + a confirm round) — at scale those are real O(N)
    # passes that dwarf the saved driver collects. One checksum collect
    # per round, riding the round's own materialization job, stays.
    sig: "tuple | None" = None
    # max_iters + 1: consecutive-checksum detection needs one round
    # BEYOND the fixpoint to confirm it, and that confirmation round is
    # granted on top of the contraction budget (ADVICE r15 — with it
    # inside the budget, max_iters=1 raised on an already-converged
    # input where the pre-r15 code returned).
    for _ in range(max_iters + 1):
        small = _one_round(edges)
        # the checksum collect materializes the checkpoint: one job/round
        new_sig = _checksum(small)
        edges = small
        if sig is not None and new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in max_iters="
            f"{max_iters} rounds; raise max_iters"
        )
    # fixpoint is a forest of stars: every non-root points at its
    # component's min node; roots (and singletons) label themselves
    centers = edges.groupBy("u").agg(F.min("v").alias("cid"))
    return (
        nodes.join(centers, nodes.node == centers.u, "left")
        .select(
            "node",
            F.coalesce(F.col("cid"), F.col("node")).alias("component_id"),
        )
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs. Exact all-pairs form — the
    CORRECTNESS baseline; the scale path buckets by IVF cell or LSH sign
    bits first (see operators/ivf.py) so only same-bucket pairs are
    scored. Returns (vec_id_a, vec_id_b, cos_sim ≥ threshold)."""
    a = emb.select(F.col(id_col).alias("vec_id_a"), F.col(vec_col).alias("v_a"))
    b = emb.select(F.col(id_col).alias("vec_id_b"), F.col(vec_col).alias("v_b"))
    pairs = a.crossJoin(b).filter(F.col("vec_id_a") < F.col("vec_id_b"))
    scored = pairs.select(
        "vec_id_a", "vec_id_b", cosine_sim("v_a", "v_b").alias("cos_sim")
    )
    return scored.filter(F.col("cos_sim") >= threshold)
