"""Deduplication operators for large-scale text corpora.

All native Catalyst (higher-order functions, no Python UDFs):

- exact_dedup            — hash-groupBy fingerprinting
- ngram_jaccard_pairs    — exact near-dup: shingle-blocked candidate pairs +
                           exact Jaccard verification (the oracle-checkable
                           ground truth for the sketch variants)
- minhash_lsh_pairs      — MinHash signatures + banded LSH candidate
                           generation + exact verification (the 100 TB path)
- simhash, simhash_pairs — 64-bit SimHash + banded Hamming candidate pairs

Scale notes (100 TB): every operator shuffles on content-derived keys
(shingle hash, band hash) — never all-pairs. All blocking joins use 8-byte
xxhash64 shingle keys, not shingle strings, so shuffle volume is bounded by
#shingles × 16 bytes regardless of document length. Self-joined
intermediates (shingle postings, signatures) are persisted so the sketch
pipeline runs once, not once per join side. Ultra-frequent shingles are
capped (``max_shingle_freq``) so a boilerplate phrase cannot create a
quadratic bucket; AQE skew-join handles residual imbalance. Signatures are
fixed-width arrays (64×8 bytes/doc) — 1 PB of text → ~60 GB of signatures,
fine to shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from connemara_spark.functions.arrays import bind_array as _bind

# deterministic affine-hash constants for minhash (public "universal hashing"
# construction: h_i(x) = a_i*x + b_i over Z/p, min over shingles)
_MERSENNE = (1 << 61) - 1


def _affine_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """a in [1, 2^30) odd, b in [0, 2^60): with the base hash masked to 32
    bits, a*h + b < 2^63 — no ANSI long overflow, still uniform enough for
    minhash permutations."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 30, 2), rng.randrange(0, 1 << 60)) for _ in range(num_hashes)
    ]


def word_shingles(text_col: str | Column, k: int = 5) -> Column:
    """Word k-gram shingles as an array<string> (distinct).

    ``sequence(0, max(n-k, 0))`` keeps short documents (< k words) as a
    single whole-document shingle. The split is ``_bind``-ed: referenced
    bare inside the gram lambda it would re-tokenize the document at every
    gram position (O(n²) characters per row)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col

    def grams(words: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(words) - F.lit(k), F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
        )

    return _bind(F.split(c, r"\s+"), grams)


def word_shingle_hashes(text_col: str | Column, k: int = 5) -> Column:
    """Distinct xxhash64 shingle hashes as array<bigint> — the 8-byte join
    keys all blocking/verification below runs on. Collisions across a corpus
    are ~#shingles²/2⁶⁴ (negligible) and deterministic."""
    return F.array_distinct(
        F.transform(word_shingles(text_col, k), lambda s: F.xxhash64(s))
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: md5 fingerprint groups with canonical (min id) doc."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
    )


def _cap_frequent_shingles(sh: DataFrame, max_shingle_freq: int | None) -> DataFrame:
    if max_shingle_freq is None:
        return sh
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    keep = freq.filter(F.col("df") <= max_shingle_freq).select("sh")
    return sh.join(keep, "sh")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs with prefix filtering.

    Classic exact similarity-join: index only each document's PREFIX — its
    ``n - ceil(t*n) + 1`` globally-rarest shingles. Two sets with
    ``J >= t`` share at least one prefix element (pigeonhole on the
    ``ceil(t*n)`` overlap requirement), so blocking on prefix postings
    loses nothing while shrinking the self-joined index by ~``t`` and
    steering the join toward LOW-frequency shingles — the candidate count
    drops by orders of magnitude on corpora with common boilerplate.
    Verification computes Jaccard exactly on the full shingle sets.
    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    hashed = df.select(
        F.col(id_col).alias("id"), word_shingle_hashes(text_col, k).alias("hs")
    ).persist()
    postings = _cap_frequent_shingles(
        hashed.select("id", F.explode("hs").alias("sh")), max_shingle_freq
    )

    # Global rarity order (document frequency asc, hash as tiebreak), then
    # keep each doc's prefix: rank within doc by (df, sh) ascending.
    freq = postings.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql.window import Window

    by_doc = Window.partitionBy("id").orderBy("df", "sh")
    prefix = (
        postings.join(freq, "sh")
        .withColumn("__r", F.row_number().over(by_doc))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("id")))
        .filter(F.col("__r") <= F.col("__n") - F.ceil(F.col("__n") * F.lit(threshold)) + 1)
        .select("id", "sh")
        .persist()
    )

    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    paired = cand.join(
        hashed.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a")), "id_a"
    ).join(hashed.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b")), "id_b")
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        paired.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_sig_expr(hs_col: str, *, num_hashes: int = 64, seed: int = 42) -> Column:
    """Signature expression over an array<bigint> shingle-hash column.

    pmod by a Mersenne prime makes each affine map a genuine
    pseudo-permutation — without it a*h+b is monotone in h and every
    "permutation" would pick the same argmin shingle.

    Assembled as ONE SQL string parsed JVM-side: building 64 lambda-bearing
    Column trees through py4j costs ~1.5 s of driver time per query; one
    ``expr()`` parse costs milliseconds. Driver-side plan-construction
    latency is pure serial overhead on a 1000-executor cluster.
    """
    params = _affine_params(num_hashes, seed)
    mins = ", ".join(
        f"array_min(transform({hs_col}, s -> pmod((s & 4294967295L) * {a}L + {b}L, {_MERSENNE}L)))"
        for a, b in params
    )
    return F.expr(f"array({mins})")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
    verify: bool = True,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs — the at-scale dedup path.

    sig → ``bands`` band-hashes → docs sharing a band bucket are candidates
    → (optional) exact-Jaccard verification on the hashed shingle sets.
    Default b=32, r=2: P(candidate) = 1-(1-s^2)^32 ≈ 0.9999 at s=0.5 —
    near-perfect recall at the threshold; surplus candidates below threshold
    are removed by exact verification. Output: (id_a, id_b, jaccard).

    The band shuffle carries only (id, band, bh) — 20 bytes/row; shingle
    sets are joined back ONLY for verified candidate pairs.
    """
    rows_per_band = num_hashes // bands
    # Shingle ONCE: the hashed shingle sets feed both the per-row signature
    # expression and (if verifying) the exact-Jaccard check.
    shsets = df.select(
        F.col(id_col).alias("id"), word_shingle_hashes(text_col, k).alias("hs")
    ).persist()
    sigs = shsets.select(
        "id", minhash_sig_expr("hs", num_hashes=num_hashes, seed=seed).alias("sig")
    )

    band_structs = ", ".join(
        "named_struct('band', {bi}, 'bh', xxhash64({cols}))".format(
            bi=bi,
            cols=", ".join(
                f"element_at(sig, {bi * rows_per_band + ri + 1})" for ri in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    band_rows = (
        sigs.select("id", F.expr(f"explode(array({band_structs}))").alias("b"))
        .select("id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
        .persist()
    )

    a = band_rows.alias("a")
    b = band_rows.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    if not verify:
        return cand

    paired = cand.join(
        shsets.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a")), "id_a"
    ).join(shsets.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b")), "id_b")
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        paired.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _simhash_fold_expr(ths_col: str, n_bits: int) -> str:
    """Single-pass SimHash over an ``array<bigint>`` token-hash column.

    ONE ``aggregate()`` walk of the token array accumulating all ``n_bits``
    bit-counters (inner ``transform`` with index), then one majority-vote +
    bit-assembly pass over the counter array. Replaces the previous
    per-bit ``size(filter(...))`` formulation, which re-scanned the token
    array once per bit (O(bits × tokens) interpreted lambda evals *and* one
    filtered-array allocation per bit) — measured 4.5× faster at sf0.1.
    The bit terms are disjoint so ``+`` equals bitwise OR; the sign bit is
    added last (ascending j), so no ANSI-mode signed overflow is possible.
    """
    return (
        "aggregate("
        "  transform("
        f"    aggregate({ths_col}, array_repeat(0L, {n_bits}),"
        "      (acc, h) -> transform(acc, (a, j) -> a + (shiftright(h, j) & 1))),"
        f"    (c, j) -> shiftleft(if(2*c > size({ths_col}), 1L, 0L), j)),"
        "  0L, (s, x) -> s + x)"
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document (token-hash bit voting), computed
    entirely per-row — zero shuffle. Output: (id, simhash bigint).

    Per bit j the vote is 2·|{h : bit_j(h)=1}| > |tokens| over the in-row
    token-hash array, accumulated in ONE pass (``_simhash_fold_expr``)."""
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.split(F.col(text_col), r"\s+"), lambda t: F.xxhash64(t)).alias("ths"),
    )
    return hashed.select("id", F.expr(_simhash_fold_expr("ths", 64)).alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, *, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split 64 bits into ``bands`` (> max_hamming) chunks;
    any pair within distance max_hamming matches on ≥1 full chunk — block on
    chunk value, verify with bit_count(xor). Output: (id_a, id_b, hamming).
    """
    if bands <= max_hamming:  # pigeonhole needs > max_hamming chunks
        raise ValueError(f"bands ({bands}) must exceed max_hamming ({max_hamming})")
    width = 64 // bands
    sh = simhash(df, id_col, text_col)
    chunks = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright(F.col("simhash"), bi * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", F.col("c.band").alias("band"), F.col("c.chunk").alias("chunk")).persist()
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


def simhash_md5(df: DataFrame, id_col: str, text_col: str, *, n_bits: int = 60) -> DataFrame:
    """60-bit SimHash with an md5 token-hash family — the ORACLE-CHECKABLE
    twin of ``simhash`` (same shape as ``minhash_lsh_pairs_md5`` vs the
    xxhash64 variant).

    Token hash = the low 15 hex nibbles of ``md5(token)``; bit j of a token
    is bit ``j%4`` of nibble ``j//4`` (counting from the least-significant
    hex char), decoded via ``instr('0123456789abcdef', char)`` — portable
    arithmetic every SQL engine reproduces bit-for-bit. 60 bits keeps all
    shift/sum arithmetic inside a signed 64-bit integer in BOTH engines (no
    sign-bit or overflow divergence). Output: (id, simhash bigint).
    """
    if n_bits > 60 or n_bits % 4:
        raise ValueError(f"n_bits ({n_bits}) must be <= 60 and a multiple of 4")
    # Decode each token's hex tail ONCE to a bigint (conv base-16→10 — the
    # whole decode stays JVM-side), then reuse the same single-pass fold as
    # the xxhash64 variant. Bit-identical to the per-nibble instr() decode
    # the DuckDB oracle uses: char p of the substring carries bits
    # (n_bits/4 - p)*4 .. +3, exactly conv()'s positional weighting.
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"transform(split({text_col}, ' '), "
            f"t -> cast(conv(substring(md5(t), 18, {n_bits // 4}), 16, 10) as bigint))"
        ).alias("ths"),
    )
    return hashed.select("id", F.expr(_simhash_fold_expr("ths", n_bits)).alias("simhash"))


def simhash_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    bands: int = 4,
    n_bits: int = 60,
) -> DataFrame:
    """Near-dup pairs by md5-SimHash Hamming distance — oracle-checkable
    twin of ``simhash_pairs`` (same pigeonhole banding, same verification).
    Output: (id_a, id_b, hamming)."""
    if bands <= max_hamming or n_bits % bands:
        raise ValueError(
            f"need bands ({bands}) > max_hamming ({max_hamming}) and "
            f"n_bits ({n_bits}) divisible by bands"
        )
    width = n_bits // bands
    sh = simhash_md5(df, id_col, text_col, n_bits=n_bits)
    chunk_structs = ", ".join(
        f"named_struct('band', {bi}, 'chunk', shiftright(simhash, {bi * width}) & {(1 << width) - 1}L)"
        for bi in range(bands)
    )
    chunks = sh.select(
        "id", "simhash", F.expr(f"explode(array({chunk_structs}))").alias("c")
    ).select("id", "simhash", F.col("c.band").alias("band"), F.col("c.chunk").alias("chunk"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    return cand.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


def minhash_lsh_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with an md5-string hash family — the
    ORACLE-CHECKABLE twin of ``minhash_lsh_pairs``.

    The hash family is ``h_i(s) = md5(i || '|' || s)`` with lexicographic
    string min — every step (shingle, signature, band hash, candidate join,
    exact-Jaccard verify) is expressible in portable SQL, so a DuckDB oracle
    reproduces the pipeline bit-for-bit (same candidates, same survivors).
    Use the xxhash64 variant at scale (8-byte keys, ~10× cheaper hashing);
    this one exists so the sketch path itself sits behind the value-hash
    correctness gate rather than a rows-only check.
    """
    rows_per_band = num_hashes // bands
    shingled = df.select(
        F.col(id_col).alias("id"), word_shingles(text_col, k).alias("shs")
    ).persist()

    mins = ", ".join(
        f"array_min(transform(shs, s -> md5(concat('{i}|', s))))" for i in range(num_hashes)
    )
    sigs = shingled.select("id", "shs", F.expr(f"array({mins})").alias("sig"))

    band_structs = ", ".join(
        "named_struct('band', {bi}, 'bh', md5(concat_ws('|', {cols})))".format(
            bi=bi,
            cols=", ".join(
                f"element_at(sig, {bi * rows_per_band + ri + 1})" for ri in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    band_rows = sigs.select("id", F.expr(f"explode(array({band_structs}))").alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )

    a, b = band_rows.alias("a"), band_rows.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    paired = cand.join(
        shingled.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a")), "id_a"
    ).join(shingled.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b")), "id_b")
    inter = F.size(F.array_intersect("shs_a", "shs_b")).cast("double")
    union = F.size("shs_a") + F.size("shs_b") - F.size(F.array_intersect("shs_a", "shs_b"))
    return (
        paired.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def duplicate_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_copies: int = 2,
    hashed: bool = False,
) -> DataFrame:
    """Substring-level duplicate-span detection (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 — the suffix-array
    pass re-expressed as distributed n-gram fingerprinting).

    Every word ``n``-gram occurring ≥ ``min_copies`` times ANYWHERE in the
    corpus (across or within documents) marks its positions; overlapping
    marked positions merge into maximal spans per document. Output one row
    per span: ``(doc_id, span_start, span_end, n_dup_grams)`` with token
    half-open ``[start, end)`` indices — the spans a cleaning pass would cut.

    Shape: posexplode n-grams (map-side), one groupBy on the gram to count
    corpus frequency, one join back, one per-doc window to merge intervals.
    With ``hashed=True`` the shuffle/join key is the 8-byte xxhash64 of the
    gram instead of the string — the 100 TB setting; raw strings keep the
    DuckDB oracle exact at the gate.
    """
    from pyspark.sql.window import Window

    # docs shorter than n tokens emit NO grams: span output is positional,
    # so a truncated whole-doc "gram" would mark spans past the doc end
    # (unlike word_shingles, where the whole-doc shingle is correct for
    # set-similarity semantics). _bind: see word_shingles.
    def _grams(toks: Column) -> Column:
        idx = F.when(
            F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - F.lit(n))
        ).otherwise(F.expr("CAST(array() AS array<int>)"))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))

    grams = _bind(F.split(F.col(text_col), " "), _grams)
    g = docs.select(F.col(id_col).alias("doc_id"), F.posexplode(grams).alias("pos", "gram"))
    if hashed:
        g = g.select("doc_id", "pos", F.xxhash64("gram").alias("gram"))

    dup = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__copies"))
        .filter(F.col("__copies") >= min_copies)
        .select("gram")
    )
    hits = g.join(dup, "gram").select("doc_id", "pos")

    w = Window.partitionBy("doc_id").orderBy("pos")
    # fixed-length intervals sorted by start: a hit starts a new span iff it
    # begins at or after the previous hit's end (pos - lag >= n)
    marked = hits.withColumn(
        "__new",
        F.when(
            F.lag("pos").over(w).isNull() | (F.col("pos") - F.lag("pos").over(w) >= n),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    spans = marked.withColumn(
        "__span", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return spans.groupBy("doc_id", "__span").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(n)).alias("span_end"),
        F.count(F.lit(1)).alias("n_dup_grams"),
    ).select("doc_id", "span_start", "span_end", "n_dup_grams")


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs — the asymmetric near-subset detector
    Jaccard misses: ``|A∩B| / |A| >= t`` flags documents mostly contained in
    another (quotes, excerpts, boilerplate-wrapped copies) even when the
    container is much larger, where Jaccard dilutes below any threshold.

    Prefix filtering is lossless for containment given the postings it sees:
    ``|A∩B| >= ceil(t|A|)`` forces B to hit one of A's ``|A| - ceil(t|A|) +
    1`` globally-rarest shingles (pigeonhole on A alone), so only the PROBE
    side is pruned; the index side keeps full postings. ``|A|`` here is the
    UNCAPPED per-doc shingle count — the same denominator verification uses
    — so the bound stays valid when ``max_shingle_freq`` drops frequent
    shingles from the postings. The cap itself remains the documented
    approximation: a pair whose qualifying overlap rides ONLY on capped
    (corpus-frequent) shingles can be missed, both here and at candidate
    time. Verification is exact on full shingle sets. Output: ordered
    (id_a, id_b, containment) — a pair can appear in both directions with
    different scores.

    Cache lifetime: ``hashed`` (the per-doc shingle arrays) is persisted for
    the duration of the returned DataFrame's evaluation — the candidate join
    and the verification join both read it. Like ``ivfpq_topk``'s index
    cache, it lives until ``spark.catalog.clearCache()`` / unpersist; in a
    long-lived session call ``clearCache()`` after materializing the result.
    """
    from pyspark.sql.window import Window

    hashed = df.select(
        F.col(id_col).alias("id"), word_shingle_hashes(text_col, k).alias("hs")
    ).persist()
    postings = _cap_frequent_shingles(
        hashed.select("id", F.explode("hs").alias("sh")), max_shingle_freq
    )

    freq = postings.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    by_doc = Window.partitionBy("id").orderBy("df", "sh")
    sizes = hashed.select("id", F.size("hs").alias("__n"))
    prefix = (
        postings.join(freq, "sh")
        .join(sizes, "id")
        .withColumn("__r", F.row_number().over(by_doc))
        .filter(F.col("__r") <= F.col("__n") - F.ceil(F.col("__n") * F.lit(threshold)) + 1)
        .select("id", "sh")
    )

    cand = (
        prefix.alias("a")
        .join(postings.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") != F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    paired = cand.join(
        hashed.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a")), "id_a"
    ).join(hashed.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b")), "id_b")
    containment = (
        F.size(F.array_intersect("hs_a", "hs_b")).cast("double") / F.size("hs_a")
    )
    return (
        paired.withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def winnow_fingerprints(
    text_col: str | Column,
    *,
    k: int = 5,
    window: int = 4,
) -> Column:
    """Winnowing fingerprint selection (the MOSS document-fingerprint
    algorithm, Schleimer et al. 2003): over the ORDERED sequence of word
    ``k``-gram md5-hex hashes, every ``window`` consecutive hashes
    contribute their minimum, and consecutive selections of the same hash
    VALUE collapse to one (value-collapse variant of the paper's
    same-occurrence rule — deterministic and engine-portable). Guarantee
    kept from the paper: any shared run of ``window + k - 1`` tokens
    between two documents shares at least one fingerprint, while only
    ~2/(window+1) of all grams are retained.

    Pure per-row expression (array transforms over in-row grams): zero
    shuffle — fingerprints distribute with the scan, like the MinHash
    signatures. Hashes are md5 hex prefixes so an external SQL engine
    reproduces selection bit-for-bit. Returns array<string> of the
    selected (collapsed, order-preserving) fingerprint hashes.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col

    def grams(words: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(words) - F.lit(k), F.lit(0)))
        # ORDERED gram hashes (word_shingles dedups — winnowing must not)
        return F.transform(
            idx,
            lambda i: F.substring(
                F.md5(F.concat_ws(" ", F.slice(words, i + 1, k))), 1, 16
            ),
        )

    def mins(hashes: Column) -> Column:
        starts = F.sequence(
            F.lit(0), F.greatest(F.size(hashes) - F.lit(window), F.lit(0))
        )
        return F.transform(
            starts, lambda s: F.array_min(F.slice(hashes, s + 1, window))
        )

    def collapse(win_min: Column) -> Column:
        # keep win_min[i] when i == 0 or win_min[i] != win_min[i-1]
        prev = F.concat(
            F.array(F.lit(None).cast("string")),
            F.slice(win_min, 1, F.greatest(F.size(win_min) - 1, F.lit(0))),
        )
        return F.filter(
            F.zip_with(
                win_min, prev, lambda cur, p: F.when(p.isNull() | (cur != p), cur)
            ),
            lambda x: x.isNotNull(),
        )

    # every level _bind-ed: each array is computed once per row and
    # referenced as a bound variable by the next level — without this the
    # gram-hash subtree re-evaluates inside every window lambda (O(n²))
    return _bind(
        F.split(c, r"\s+"),
        lambda words: _bind(grams(words), lambda hs: _bind(mins(hs), collapse)),
    )


def doc_chunks(text_col: str | Column, *, chunk_words: int = 16) -> Column:
    """Split a document into NON-OVERLAPPING ``chunk_words``-word chunks
    (the 'paragraph' unit for flat word-stream corpora; swap the tokenizer
    for a newline split when documents carry real paragraph breaks). Tail
    chunks may be shorter. Returns array<string> of chunk texts."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col

    def chunks(toks: Column) -> Column:
        # split() never yields an empty array, so n_chunks >= 1; greatest
        # guards degenerate inputs from producing a descending sequence()
        n_chunks = F.greatest(
            F.ceil(F.size(toks) / F.lit(chunk_words)).cast("int"), F.lit(1)
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(toks, i * chunk_words + 1, chunk_words), " "),
        )

    # _bind: an unbound split would re-tokenize the doc once per chunk
    return _bind(F.split(c, " "), chunks)


def chunk_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_words: int = 16,
) -> DataFrame:
    """Sub-document (CCNet-style paragraph) deduplication: every chunk
    occurrence whose text already appeared at an earlier position — earlier
    document id, or earlier chunk index within the same document — is
    dropped; first occurrences survive.

    Shape at 100 TB: one shuffle on the 16-byte chunk hash (md5 of chunk
    text) for the first-occurrence window, then one shuffle back on the doc
    id to reassemble — both on bounded keys, never all-pairs. Corpus-scale
    boilerplate (headers, license blocks) collapses to one retained copy.

    Output per doc: (id, n_chunks, n_dropped, kept_digest) where
    kept_digest = md5 of the surviving chunks joined in order ('' digest
    when everything was dropped) — a value-checkable fingerprint of the
    cleaned document without shipping the text twice.
    """
    from pyspark.sql.window import Window

    chunks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(doc_chunks(text_col, chunk_words=chunk_words)).alias(
            "chunk_idx", "chunk"
        ),
    )
    w = Window.partitionBy(F.md5("chunk")).orderBy("id", "chunk_idx")
    marked = chunks.withColumn(
        "kept", (F.row_number().over(w) == 1).cast("int")
    )
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("kept") == 1, F.struct("chunk_idx", "chunk"))
            )
        ),
        lambda s: s["chunk"],
    )
    return (
        marked.groupBy("id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.lit(1) - F.col("kept")).cast("bigint").alias("n_dropped"),
            F.md5(F.array_join(kept_sorted, " ")).alias("kept_digest"),
        )
        .withColumnRenamed("id", id_col)
    )


def md5_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """(id, band, bh) LSH band rows with the portable md5 family — the
    band-hash leg of ``minhash_lsh_pairs_md5`` as a standalone projection.
    Pure per-row expressions (no persist, no shuffle), so it is legal over
    a STREAMING DataFrame — ``lsh_candidates_stream`` consumes it for
    dedup-on-ingest, and its output is oracle-checkable in portable SQL."""
    rows_per_band = num_hashes // bands
    mins = ", ".join(
        f"array_min(transform(shs, s -> md5(concat('{i}|', s))))"
        for i in range(num_hashes)
    )
    sigs = df.select(
        F.col(id_col).alias("id"), word_shingles(text_col, k).alias("shs")
    ).select("id", F.expr(f"array({mins})").alias("sig"))
    band_structs = ", ".join(
        "named_struct('band', {bi}, 'bh', md5(concat_ws('|', {cols})))".format(
            bi=bi,
            cols=", ".join(
                f"element_at(sig, {bi * rows_per_band + ri + 1})"
                for ri in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    return sigs.select(
        "id", F.expr(f"explode(array({band_structs}))").alias("b")
    ).select("id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
