"""Deduplication operators for training-data pipelines (north-star
scope, beyond the reference): exact, MinHash+LSH, SimHash and n-gram
Jaccard near-dup. All are shuffle-conscious DataFrame compositions
with DuckDB-SQL-expressible semantics so the driver's oracle can
hash-match them:

* hashes are ``md5`` hex strings (identical in Spark and DuckDB),
* MinHash h_i(s) = min over shingles of md5(i || '|' || s)
  (lexicographic min over hex = a proper random permutation proxy),
* SimHash is 64-bit (all four bits of the first 16 hex digits of
  md5(token)), banded into four 16-bit lanes — substr-expressible
  both sides; near-dups (Hamming ≤ 3) share at least one band.

Scale notes: exact dedup is one hash-aggregate (map-side partial).
MinHash/LSH shuffles only (doc_id × bands) rows — candidate pairs
come from equi-joining small band buckets, never a cross join.
SimHash canonicalization is a groupBy bucket-min + equi-join on the
band value (no window — skew-safe for mega-buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bubbles.operators.text import char_ngrams


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct text hash: canonical (min) id + dup count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle: int = 5,
) -> DataFrame:
    """(id, mh0..mh{k-1}) MinHash signature columns over character
    shingles."""
    # One md5 yields four independent 32-bit (8 hex char) lanes; each
    # lane's min over the shingle set is one MinHash. Explode + project
    # the digests ONCE + hash-aggregate the lane minima: Catalyst does
    # not CSE a shared transform() across lane expressions, so the
    # array-function formulation recomputes every digest per lane —
    # this shape computes ceil(k/4) digests per shingle total and gets
    # map-side partial aggregation for free.
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(char_ngrams(F.col(text_col), shingle))).alias("__g"),
    )
    n_salts = (num_hashes + 3) // 4
    digs = sh.select(
        id_col,
        *[
            (
                F.md5(F.col("__g"))
                if s == 0
                else F.md5(F.concat(F.lit(f"{s}|"), F.col("__g")))
            ).alias(f"__d{s}")
            for s in range(n_salts)
        ],
    )
    aggs = []
    for i in range(num_hashes):
        salt, lane = divmod(i, 4)
        aggs.append(
            F.min(F.substring(F.col(f"__d{salt}"), lane * 8 + 1, 8)).alias(f"mh{i}")
        )
    return digs.groupBy(id_col).agg(*aggs)


def band_buckets(
    sig: DataFrame,
    num_hashes: int,
    band_size: int,
    max_bucket_size: int | None,
    id_col: str = "doc_id",
    checkpoint: bool = False,
) -> DataFrame:
    """(id, band, bucket) LSH band buckets over a MinHash signature
    frame — the ONE construction both the batch pair generator and the
    streaming corpus index (streaming/neardup.corpus_band_index) use,
    so the band hash (md5 of '|'-joined lanes), band count and
    over-common-bucket cap can never drift between them (the oracle
    twins replay these byte-for-byte).

    ``checkpoint=True`` materializes the slim bucket relation before
    the cap — pass it when multiple consumers follow (see the
    measured rationale in ``minhash_lsh_pairs``)."""
    if num_hashes % band_size:
        # a silent floor-division would pay for the trailing lanes'
        # md5 work in minhash_signatures and then never band them —
        # the caller believes they bought num_hashes/band_size bands
        # of recall while getting floor() of it
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by band_size "
            f"({band_size}); {num_hashes % band_size} trailing MinHash "
            "lanes would be computed but never banded"
        )
    n_bands = num_hashes // band_size
    # one posexplode pass instead of a per-band union: a union of
    # per-band projections defeats exchange reuse (column pruning makes
    # each branch's partial aggregate distinct), so the whole shingle
    # explode + digest + shuffle pipeline would run once PER BAND;
    # exploding an array of band hashes computes the signatures once
    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"mh{b * band_size + j}") for j in range(band_size)],
                )
            )
            for b in range(n_bands)
        ]
    )
    buckets = sig.select(
        F.col(id_col), F.posexplode(band_hashes).alias("band", "bucket")
    )
    if checkpoint:
        buckets = buckets.localCheckpoint()
    if max_bucket_size:
        # groupBy count (map-side partial) + equi-join back: skew-safe,
        # no window; the join is AQE-splittable
        small = (
            buckets.groupBy("band", "bucket")
            .agg(F.count("*").alias("__bn"))
            .filter(F.col("__bn") <= max_bucket_size)
            .select("band", "bucket")
        )
        buckets = buckets.join(small, on=["band", "bucket"])
    return buckets


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 4,
    shingle: int = 5,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing at least
    one LSH band bucket. bands = num_hashes / band_size.

    ``max_bucket_size`` drops buckets with more members before the
    self-join: a bucket shared by thousands of docs is boilerplate,
    not a dedup signal, and its self-join is quadratic (a single
    10⁵-doc bucket is 10¹⁰ candidate pairs). Exact duplicates in a
    dropped bucket are still caught by ``exact_dedup`` — the cap only
    bounds the NEAR-dup candidate generation. Set 0/None to disable."""
    # small-file inputs arrive in 1-2 splits; spread the hash-heavy
    # projection across the cluster first. Unconditional round-robin
    # repartition: one shuffle of the raw (id, text) rows, which is
    # tiny next to the shingle explosion it parallelizes — and it
    # avoids touching df.rdd (which forces an RDD conversion of the
    # DataFrame plan just to read the split count).
    par = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(par)
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle)
    if max_bucket_size:
        # Round-12 single-pass capped shape (guide §2.4/§2.5; closes
        # the round-11 driver regression on this row). The previous
        # shape materialized the bucket relation (localCheckpoint
        # barrier) because it fed THREE consumers: a cap-count groupBy,
        # a join back, then the pair-generating groupBy — three
        # (band, bucket) exchanges plus a barrier on a ~2 s query. Now
        # there is exactly ONE consumer chain, so nothing needs
        # materializing: rank rows inside each (band, bucket) by id
        # with a LITERAL cap+1 filter — Spark plans WindowGroupLimit,
        # whose PARTIAL mode keeps only cap+1 rows per group per map
        # task BEFORE the exchange, so a viral bucket never crosses the
        # shuffle (the skew guard the old count+join provided, now for
        # free) — and the following groupBy reuses the window's
        # (band, bucket) partitioning. Groups still holding cap+1 rows
        # after the limit are over-full and dropped: identical groups
        # to the old count<=cap filter (count(min(n, cap+1)) <= cap
        # <=> n <= cap; NULL ids rank first and still count toward the
        # cap, as they did in the old count(*)).
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket").orderBy(F.col(id_col).asc_nulls_first())
        buckets = band_buckets(sig, num_hashes, band_size, None, id_col)
        capped = (
            buckets.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_bucket_size + 1)
        )
        grouped = (
            capped.groupBy("band", "bucket")
            .agg(
                F.count("*").alias("__bn"),
                F.sort_array(F.collect_list(F.col(id_col))).alias("__ids"),
            )
            .filter(F.col("__bn") <= max_bucket_size)
        )
        # pairs from each bucket's sorted member array in one pass
        # instead of a self-join (round 11, guide §2.3): the id_a <
        # id_b filter is free (sorted array, j > i). NULL ids sort
        # first, so a NULL can only ever appear as id_a — the
        # isNotNull filter reproduces the old self-join's NULL
        # rejection (a NULL < x predicate is never true) (ADVICE r11).
        return (
            grouped.select(
                F.explode(
                    F.expr(
                        "flatten(transform(__ids, (x, i) ->"
                        " transform(slice(__ids, i + 2, size(__ids)),"
                        " y -> struct(x AS id_a, y AS id_b))))"
                    )
                ).alias("__p")
            )
            .select("__p.id_a", "__p.id_b")
            .filter(F.col("id_a").isNotNull())
            .distinct()
        )
    # uncapped: a viral bucket would make collect_list unbounded —
    # keep the skew-safe (AQE-splittable) self-join for this mode.
    # checkpoint=True: buckets feeds BOTH join sides, whose subplans
    # differ, so Catalyst would re-execute the whole shingle-explode +
    # digest + min-agg pipeline (75M intermediate rows at 500k docs)
    # per side — measured 4x the query (A/B in SCALE.md's
    # minhash_lsh_pairs row).
    buckets = band_buckets(
        sig, num_hashes, band_size, None, id_col, checkpoint=True
    )
    a = buckets.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a"))
    b2 = buckets.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b"))
    return (
        a.join(b2, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def near_dup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **lsh_kwargs,
) -> DataFrame:
    """(doc_id, canonical_id): transitive near-duplicate grouping —
    the full pipeline shape a training-data dedup pass needs. MinHash
    LSH candidate pairs form an undirected similarity graph whose
    connected components (min-label propagation + pointer jumping,
    operators.components) pick each group's minimum doc id as
    canonical; documents in no pair are their own canonical. Keeping
    `canonical_id == doc_id` rows (one per group) implements
    keep-first dedup; everything is equi-joins and aggregations — no
    window, no cross join."""
    from bubbles.operators.components import connected_components

    pairs = minhash_lsh_pairs(df, text_col, id_col, **lsh_kwargs)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    cc = connected_components(edges).withColumnRenamed("vertex", id_col)
    return (
        df.select(id_col)
        .join(cc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("canonical_id"),
        )
    )


_HEX = "0123456789abcdef"
_BIT_MASKS = (8, 4, 2, 1)  # bits of one hex digit, high to low


def _hex_chars_with_bit(mask: int) -> list:
    return [h for h in _HEX if int(h, 16) & mask]


def simhash64_bands(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sim_b0..sim_b3) — 64-bit SimHash split into four 16-bit
    band values. Bit i = sign of Σ_tokens (±1 by bit i of
    md5(token)'s first 16 hex digits); band b packs bits
    [16b, 16b+15].

    Shape: explode tokens → project the md5 digest ONCE → one hash
    aggregate with 64 signed-sum accumulators (map-side partial).
    Catalyst does not CSE a shared md5 across 64 aggregate()
    expressions, so the array-HOF formulation would recompute the
    digest per bit — this computes it once per token."""
    # spread the token explosion + per-token digests across the cluster
    # first (same unconditional round-robin as minhash_lsh_pairs: one
    # shuffle of slim (id, text) rows, tiny next to the md5-per-token
    # map work it parallelizes)
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("__t"),
    )
    digs = toks.select(id_col, F.md5(F.col("__t")).alias("__d"))
    sums = []
    for i in range(64):
        dg, m = divmod(i, 4)
        chars = _hex_chars_with_bit(_BIT_MASKS[m])
        sums.append(
            F.sum(
                F.when(F.substring(F.col("__d"), dg + 1, 1).isin(*chars), 1)
                .otherwise(-1)
            ).alias(f"__s{i}")
        )
    bits = digs.groupBy(id_col).agg(*sums)
    band_cols = []
    for b in range(4):
        v = F.lit(0)
        for j in range(16):
            v = v + F.when(F.col(f"__s{b * 16 + j}") > 0, F.lit(1 << j)).otherwise(
                F.lit(0)
            )
        band_cols.append(v.cast("long").alias(f"sim_b{b}"))
    return bits.select(F.col(id_col), *band_cols)


def simhash_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sim_b0..sim_b3, canonical_id) — canonical = min doc id
    among docs sharing ANY of the four 16-bit bands (pigeonhole: two
    64-bit signatures within Hamming distance 3 must agree on at
    least one band).

    Scale shape: bucket minima come from a groupBy (map-side partial
    aggregation), NOT a window — 10⁹ near-identical docs collapse to
    one (band, value, min_id) row at the combiner instead of
    serializing one giant window partition; the join back is
    AQE-skew-splittable.

    Row-count preserving: a NULL-text doc has no tokens (explode emits
    nothing, so it never reaches a signature) but is re-attached with
    NULL bands and canonical_id = its own id — the sibling dedup
    operators (exact_dedup keeps NULL rows, near_dup_groups re-attaches
    no-pair docs) make the same promise, and a pipeline asserting
    row-count preservation must not silently lose crawl rows."""
    # Round-11 restructure (guide §2.4): the original built bands as a
    # 4-way union of per-band selects over the lazy sigs frame and
    # joined sigs back at the end — Catalyst does not CSE shared
    # subtrees, so the explode+md5+64-way-sum signature pipeline
    # re-executed ~9x in one plan (measured: 10 parquet scans / 22
    # exchanges). Now bands come from ONE posexplode (sigs referenced
    # twice total), and the output's signature columns are
    # reconstructed exactly inside the canonical aggregation
    # (max(when(band=b, v)) — each (id, band) holds exactly one v), so
    # no join back. A localCheckpoint cut was tried instead and
    # rejected: identical results but +50% wall at bench scale (the
    # eager cut serializes what the duplicated-subtree plan ran
    # concurrently) — the single-plan shape wins at BOTH scales.
    sigs = simhash64_bands(df, text_col, id_col)
    bands = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.col(f"sim_b{b}") for b in range(4)])
        ).alias("band", "v"),
    )
    # bucket minima via groupBy (map-side partials), NOT a window —
    # a viral bucket stays skew-safe (unchanged discipline)
    bucket_min = bands.groupBy("band", "v").agg(F.min(id_col).alias("__bmin"))
    out = (
        bands.join(bucket_min, on=["band", "v"])
        .groupBy(id_col)
        .agg(
            *[
                F.max(F.when(F.col("band") == b, F.col("v"))).alias(f"sim_b{b}")
                for b in range(4)
            ],
            F.min("__bmin").alias("canonical_id"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(out, on=id_col, how="left")
        .withColumn(
            "canonical_id", F.coalesce(F.col("canonical_id"), F.col(id_col))
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact pairwise Jaccard over character n-gram sets via
    explode + equi-join on the shingle (never a cross join; shuffle
    is (doc, shingle) rows). Intended for candidate verification
    after LSH — run on bounded subsets."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    sh = df.select(
        F.col(id_col), F.explode(F.array_distinct(char_ngrams(F.col(text_col), n))).alias("g")
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "g")
    b = sh.select(F.col(id_col).alias("id_b"), "g")
    inter = (
        a.join(b, on="g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        # no broadcast hint: sizes is one row per doc, so a mandatory
        # broadcast would ship the whole corpus to every executor on a
        # corpus-wide call. Let AQE pick (it still broadcasts when the
        # relation is actually small).
        inter.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def ngram_similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    common_gram_cap: int | None = None,
) -> DataFrame:
    """Cross-relation near-duplicate join: exact character-n-gram
    Jaccard between every (left, right) pair sharing at least one
    shingle — the INCREMENTAL dedup shape (a new crawl batch joined
    against the existing corpus) and the record-linkage primitive.

    Same blocking equi-join shape as ``ngram_jaccard_pairs`` (explode
    distinct shingles → equi-join on the gram → per-pair count →
    sizes join; never a cross join, no broadcast hint — AQE owns the
    build side), but between two relations, so the left corpus can be
    arbitrarily large while the right batch is a day's crawl.

    ``common_gram_cap``: optional skew guard for corpus-scale calls —
    drops grams whose combined document frequency exceeds the cap
    (stop-shingles like 'the' block-join every document pair).
    EXPLICITLY approximate: pair Jaccard is then computed over the
    surviving grams only (both the intersection count and the set
    sizes), biasing scores toward the rare-gram signal. Leave None
    for the exact oracle-checked semantics.
    """
    shl = left.select(
        F.col(id_col).alias("left_id"),
        F.explode(F.array_distinct(char_ngrams(F.col(text_col), n))).alias("g"),
    )
    shr = right.select(
        F.col(id_col).alias("right_id"),
        F.explode(F.array_distinct(char_ngrams(F.col(text_col), n))).alias("g"),
    )
    if common_gram_cap is not None:
        freq = (
            shl.select("g")
            .unionAll(shr.select("g"))
            .groupBy("g")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= common_gram_cap)
            .select("g")
        )
        shl = shl.join(freq, on="g")
        shr = shr.join(freq, on="g")
    sl = shl.groupBy("left_id").agg(F.count("*").alias("n_l"))
    sr = shr.groupBy("right_id").agg(F.count("*").alias("n_r"))
    inter = shl.join(shr, on="g").groupBy("left_id", "right_id").agg(
        F.count("*").alias("n_inter")
    )
    out = (
        inter.join(sl, on="left_id")
        .join(sr, on="right_id")
        .select(
            "left_id",
            "right_id",
            (
                F.col("n_inter")
                / (F.col("n_l") + F.col("n_r") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word n-gram with the benchmark/evaluation set (the pre-training
    hygiene pass; real pipelines use n≈8-13).

    Shape at scale: both sides explode to distinct (doc, gram) rows,
    the benchmark side is reduced to DISTINCT grams, and the overlap
    is one equi-join on the gram string + one partial-aggregated
    count per doc. No broadcast hint (a benchmark can be millions of
    grams — AQE still broadcasts genuinely small ones), no windows,
    no cartesian anything.

    Returns one row per corpus doc: ``n_grams`` (distinct n-grams),
    ``n_contaminated_grams`` (of them, how many appear in the
    benchmark), ``contaminated`` (0/1)."""
    from bubbles.operators.text import word_ngrams

    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("g"),
        )

    bench_grams = grams(benchmark).select("g").distinct()
    corpus_grams = grams(corpus)
    # one tokenization pass: totals and hits both come from the
    # exploded relation (conditional aggregation over the left join),
    # then re-attach docs whose text yields no n-grams at all
    per_doc = (
        corpus_grams.join(bench_grams.withColumn("__hit", F.lit(1)), on="g", how="left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.count("__hit").alias("n_contaminated_grams"),
        )
    )
    return (
        corpus.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("int").alias("n_grams"),
            F.coalesce("n_contaminated_grams", F.lit(0)).cast("long").alias(
                "n_contaminated_grams"
            ),
            (F.coalesce("n_contaminated_grams", F.lit(0)) > 0)
            .cast("long")
            .alias("contaminated"),
        )
    )


def bloom_filter_words(
    df: DataFrame,
    text_col: str = "text",
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
    seed: int = 7000,
) -> DataFrame:
    """Bloom-filter bitmap over a corpus's contents as a (word, bits)
    relation: word = bit_index >> 6, bits = OR of 1 << (bit_index & 63).

    Built entirely JVM-side — k xxhash64 positions per row, one
    partial-aggregated ``bit_or`` — and bounded by ``n_bits / 64``
    OUTPUT rows regardless of corpus size: the 100 TB shape is "scan
    the historical corpus once, reduce to a fixed-size bitmap". No
    driver collect, no Python in the hot path.
    """
    pos = [
        F.pmod(F.xxhash64(F.col(text_col), F.lit(seed + i)), F.lit(n_bits))
        for i in range(n_hashes)
    ]
    return (
        df.select(F.explode(F.array(*pos)).alias("p"))
        .select(
            F.shiftright("p", 6).alias("word"),
            # shiftleft() in pyspark.sql.functions only takes a literal
            # shift count; a column amount needs the SQL form
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p & 63 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_new_documents(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
    seed: int = 7000,
) -> DataFrame:
    """Incremental exact dedup of ``batch`` against a historical
    ``corpus`` through a Bloom pre-filter: rows with any unset bit are
    DEFINITELY new (no false negatives) and skip the corpus entirely;
    only the ~fpp + true-dup survivors are exact-verified with a
    semi-join on the full content hash. Result is EXACT — identical to
    a plain anti-join on content — the Bloom filter only prunes.

    Scale shape: the corpus is scanned once into the n_bits/64-row
    words relation (broadcast to the batch side); the expensive
    content-hash join touches only Bloom survivors, so a 100 TB
    historical corpus costs one columnar scan + a fixed-size bitmap
    instead of a corpus-sized shuffle per incoming batch. Returns the
    new (unseen) batch rows as (id_col, definitely_new) where
    definitely_new marks rows the filter alone proved new.
    """
    words = bloom_filter_words(corpus, text_col, n_bits, n_hashes, seed)
    pos = [
        F.pmod(F.xxhash64(F.col(text_col), F.lit(seed + i)), F.lit(n_bits))
        for i in range(n_hashes)
    ]
    probe = (
        batch.select(F.col(id_col), F.explode(F.array(*pos)).alias("p"))
        .select(
            id_col,
            F.shiftright("p", 6).alias("word"),
            # shiftleft() in pyspark.sql.functions only takes a literal
            # shift count; a column amount needs the SQL form
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p & 63 AS INT))").alias(
                "mask"
            ),
        )
        .join(F.broadcast(words), on="word", how="left")
        .select(
            id_col,
            (
                F.col("bits").isNotNull()
                & (F.col("bits").bitwiseAND(F.col("mask")) != 0)
            )
            .cast("int")
            .alias("hit"),
        )
        .groupBy(id_col)
        .agg(F.min("hit").alias("all_hit"))
    )
    definitely_new = probe.filter(F.col("all_hit") == 0).select(
        id_col, F.lit(True).alias("definitely_new")
    )
    candidates = batch.join(
        probe.filter(F.col("all_hit") == 1).select(id_col), on=id_col, how="left_semi"
    )
    corpus_hashes = corpus.select(F.md5(F.col(text_col)).alias("__ch")).distinct()
    survivors = (
        candidates.withColumn("__ch", F.md5(F.col(text_col)))
        .join(corpus_hashes, on="__ch", how="left_anti")
        .select(id_col, F.lit(False).alias("definitely_new"))
    )
    return definitely_new.unionByName(survivors)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.3,
    n_centroids: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_ids: list | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023):
    bucket the corpus by nearest centroid (one k-means-assign step,
    same deterministic machinery as ``similarity.ivf_topk``), then
    within each bucket mark every vector that has a SMALLER-id
    neighbor whose 6dp-rounded cosine similarity reaches
    ``threshold``.  Output is one row per non-NULL input vector:
    (id_col, centroid, dup_of) — ``dup_of`` is the smallest such
    neighbor id, NULL for survivors.  Keeping ``dup_of IS NULL`` rows
    implements the dedup; the exists-a-smaller-neighbor rule (rather
    than greedy keep-list maintenance) makes the operator a pure
    function of the bucket, so the DuckDB twin is an equi-self-join +
    min() and the result is partitioning-independent.

    Scale: the corpus is scanned ONCE for assignment (broadcast
    centroids + mapInPandas numpy argmin — no shuffle), then shuffled
    ONCE on centroid id for the per-bucket kernel.  The kernel walks
    the bucket's similarity matrix in 1024-row chunks, so task memory
    is O(chunk × bucket) not O(bucket²); compute is O(bucket²) per
    task, which is the SemDeDup design point — ``n_centroids`` must
    scale with corpus size (n / target_bucket_size) to bound it, and
    a skewed bucket is bounded by the same choice.  ``centroid_ids``
    pins centroids to explicit corpus ids for the SQL-expressible
    oracle twin (assignment ties break toward the smallest centroid
    id, matching ``_ivf_assign_probe``).

    NULL-vector rows are excluded (ANN-family contract: np.stack in
    the assignment kernel would throw on the whole Arrow batch).
    """
    import numpy as np
    import pandas as pd

    from bubbles.operators.sampling import stratified_sample_exact
    from bubbles.operators.similarity import _ivf_assign_probe

    df = df.filter(F.col(vec_col).isNotNull())
    base = df.select(
        F.col(id_col).alias("point_id"),
        F.col(vec_col).cast("array<double>").alias("features"),
        F.lit(0).alias("subset_id"),
    )
    if centroid_ids is not None:
        ord_of = {int(p): i for i, p in enumerate(centroid_ids)}
        crows = sorted(
            base.filter(F.col("point_id").isin([int(x) for x in centroid_ids]))
            .select("point_id", "features")
            .collect(),
            key=lambda r: ord_of[int(r.point_id)],
        )
    else:
        cents = stratified_sample_exact(
            base, "subset_id", 0.0, seed=seed, min_per_key=n_centroids
        )
        crows = sorted(
            cents.select("sample_ord", "point_id", "features").collect(),
            key=lambda r: r.sample_ord,
        )
    cids = np.array([r.point_id for r in crows], dtype=np.int64)
    cmat = np.array([r.features for r in crows], dtype=np.float64)
    assigned = _ivf_assign_probe(base, cids, cmat, n_probe=1).select(
        "point_id", "features", "centroid"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["point_id"].to_numpy())
        ids = pdf["point_id"].to_numpy()[order]
        X = np.stack(
            [
                np.frombuffer(b, dtype=np.float64)
                for b in pdf["features"].to_numpy()[order]
            ]
        )
        norms = np.linalg.norm(X, axis=1)
        # explicit has_dup mask instead of a -1 id sentinel: ids are
        # longs with no sign contract, so a sentinel in id space would
        # corrupt results for corpora with negative ids (and make an
        # actual id of -1 indistinguishable from "no duplicate")
        dup = np.zeros(len(ids), dtype=np.int64)
        has = np.zeros(len(ids), dtype=bool)
        for lo in range(1, len(ids), 1024):
            hi = min(lo + 1024, len(ids))
            num = X[lo:hi] @ X.T
            den = norms[lo:hi, None] * norms[None, :]
            sim = np.round(
                np.where(den == 0.0, 0.0, num / np.where(den == 0.0, 1.0, den)), 6
            )
            for r in range(lo, hi):
                m = sim[r - lo, :r] >= threshold
                if m.any():
                    dup[r] = ids[int(np.argmax(m))]
                    has[r] = True
        return pd.DataFrame(
            {
                "point_id": ids,
                "centroid": pdf["centroid"].to_numpy()[order],
                "dup_of": dup,
                "has_dup": has,
            }
        )

    out = assigned.groupBy("centroid").applyInPandas(
        kernel, "point_id long, centroid long, dup_of long, has_dup boolean"
    )
    return out.select(
        F.col("point_id").alias(id_col),
        F.col("centroid"),
        F.when(F.col("has_dup"), F.col("dup_of")).alias("dup_of"),
    )


def dedup_keep_best(
    df: DataFrame,
    groups: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-document selection per near-duplicate group: keep the
    HIGHEST-QUALITY member, not the smallest id — what a production
    dedup pass actually retains (the longest / highest-scored copy of
    a boilerplate-mangled near-dup cluster).

    ``groups`` is the (id, canonical_id) relation from
    ``near_dup_groups``; the winner per group is the lexicographic
    max of (score, id) — fully deterministic under score ties. ONE
    equi-join plus ONE two-phase ``max(struct)`` aggregation (the
    merge_upsert winner pattern): a viral 10^6-member dup cluster is
    absorbed by map-side partials, never sorted in a window
    partition. Output: (canonical_id, id, score, n_members)."""
    j = df.select(F.col(id_col), F.col(score_col)).join(groups, on=id_col)
    win = j.groupBy("canonical_id").agg(
        F.max(F.struct(F.col(score_col), F.col(id_col))).alias("__w"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return win.select(
        "canonical_id",
        F.col(f"__w.{id_col}").alias(id_col),
        F.col(f"__w.{score_col}").alias(score_col),
        "n_members",
    )
