"""Deduplication operators for training-data pipelines.

All fingerprints are md5-based and built from *native* Spark array/
string expressions (JVM-side, inside whole-stage codegen) so that (a)
the DuckDB oracle reproduces them bit-for-bit and (b) the signature
stage is a pure per-row map — zero shuffle — at 100 TB. The only
shuffles are the final groupBy/self-join on tiny signature columns.

Operators:
  - exact duplicates        md5(normalized text)            (text.fingerprint_md5)
  - MinHash signatures      min_j over shingles of md5(j:shingle)
  - LSH banding             band hash = md5(join of signature slice)
  - candidate pairs         self-equi-join on (band_idx, band_hash)
  - n-gram Jaccard          array_intersect/array_union on distinct token sets
  - SimHash                 per-nibble majority vote over token md5s

The reference has no dedup; these generalize its fingerprint-style
dictionary keys (md5-able canonical forms) to corpus hygiene ops —
the KG-corpus analog of PreData.py's cleanup filters (PreData.py:2-38).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ner_spark.functions.text import normalized_text, shingles, tokens


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(col, k: int = 5, num_hashes: int = 12) -> Column:
    """array<string>[num_hashes]: j-th element = min md5('j:'||shingle).

    One native expression per row; md5 keyed by the hash index j gives
    `num_hashes` independent permutations without any UDF.
    """
    sh = shingles(col, k)
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda j: F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(j.cast("string"), F.lit(":"), s)))
        ),
    )


def minhash_signature_df(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 12,
) -> DataFrame:
    """(id, mh0..mh{n-1}): the MinHash signature as flat columns.

    Relational formulation of `minhash_signature` — explode shingles to
    rows, hash each once per permutation in a flat projection, then
    groupBy-min. Identical values, but everything stays inside
    whole-stage codegen with map-side partial min aggregation; the
    nested higher-order-function version falls back to interpreted
    eval AND re-evaluates the shingle array per permutation (measured
    ~25x slower at sf0.1).
    """
    sh = docs.select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col), k)).alias("s")
    )
    hashed = sh.select(
        "id",
        *[
            F.md5(F.concat(F.lit(str(j)), F.lit(":"), F.col("s"))).alias(f"h{j}")
            for j in range(num_hashes)
        ],
    )
    return hashed.groupBy("id").agg(
        *[F.min(f"h{j}").alias(f"mh{j}") for j in range(num_hashes)]
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs sharing >=1 LSH band.

    Scale shape: signature+banding is a scan + one groupBy; the join
    key (band_idx, band_hash) is high-cardinality so the self-join
    shuffle is well spread; AQE splits any hot bucket (boilerplate
    dups).
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signature_df(docs, id_col, text_col, k, num_hashes)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh{j}")
                            for j in range(i * rows_per_band, (i + 1) * rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for i in range(bands)
        ]
    )
    banded = sig.select("id", F.explode(band_structs).alias("b")).select(
        "id", "b.band_idx", "b.band_hash"
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram / token Jaccard verification of candidates
# ---------------------------------------------------------------------------

def token_set(col) -> Column:
    """Distinct, sorted token set of normalized text (array<string>)."""
    return F.array_sort(F.array_distinct(F.split(normalized_text(col), " ")))


def jaccard(a: Column, b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| over two array columns (double)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return (inter / F.greatest(union, F.lit(1))).cast("double")


def near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    k: int = 5,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact token-set Jaccard.

    Returns (id_a, id_b, jaccard) with jaccard >= threshold. The exact
    verification joins token sets only for *candidate* rows — the
    classic LSH shape: O(corpus) signatures, O(candidates) verification.
    """
    cands = minhash_candidate_pairs(docs, id_col, text_col, k, num_hashes, bands)
    toks = docs.select(F.col(id_col).alias("id"), token_set(F.col(text_col)).alias("toks"))
    return (
        cands.join(toks.withColumnRenamed("id", "id_a").withColumnRenamed("toks", "toks_a"), "id_a")
        .join(toks.withColumnRenamed("id", "id_b").withColumnRenamed("toks", "toks_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("toks_a"), F.col("toks_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_HI_NIBBLES = "89abcdef"

# 64-bit fingerprint = 4 salted md5s per token, 16 majority-vote bits
# each. Round 1 shipped a 16-bit hash; at sf0.1 it was SATURATED (the
# largest pigeonhole band bucket held 54% of the corpus, making the
# band self-join effectively quadratic and labeling 40% of all pairs
# "near-dups"). 64 bits gives each Hamming<=2 band ~21 bits of
# entropy — sparse buckets at any corpus size.
SIMHASH_BITS = 64
_NIBBLES_PER_HASH = 16


def _n_salts(bits: int) -> int:
    q, r = divmod(bits, _NIBBLES_PER_HASH)
    return q + (1 if r else 0)


def _salted_md5(tok: Column, j: int) -> Column:
    return F.md5(F.concat(F.lit(f"{j}:"), tok))


def simhash(col, bits: int = SIMHASH_BITS) -> Column:
    """bits-bit SimHash over the distinct token set (long).

    Bit b (= 16*j + i) is the majority vote of nibble #i of each
    token's salted hash md5('j:' || token): vote +1 when the nibble is
    in [8, f], -1 otherwise; bit set when the vote sum is strictly
    positive. Pure native expressions — reproducible in ANSI SQL (the
    DuckDB oracle builds the identical formula), zero shuffle, zero
    Python.
    """
    ts = token_set(col)
    n = F.size(ts)
    acc = F.lit(0).cast("long")

    # single-arg lambdas built through closures on purpose: PySpark
    # treats a two-parameter lambda (even with a defaulted second
    # param) in F.transform/F.filter as (element, index), which would
    # bind the loop variable to the ARRAY INDEX
    def salted(j: int) -> Column:
        return F.transform(ts, lambda t: _salted_md5(t, j))

    def hi_count(hashes: Column, i: int) -> Column:
        return F.size(
            F.filter(hashes, lambda h: F.substring(h, i + 1, 1).isin(*_HI_NIBBLES))
        )

    for j in range(_n_salts(bits)):
        # hash each token ONCE per salt; the per-bit counts reuse the
        # array (the giant expression otherwise falls out of codegen
        # AND recomputes bits x md5s per token)
        hashes = salted(j)
        for i in range(min(_NIBBLES_PER_HASH, bits - j * _NIBBLES_PER_HASH)):
            bit = (hi_count(hashes, i) * 2 > n).cast("long")
            acc = acc.bitwiseOR(F.shiftleft(bit, j * _NIBBLES_PER_HASH + i))
    return acc


def simhash_df(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(id, sh): relational SimHash — explode the token set, hash each
    token once per salt, aggregate per-bit hi-nibble counts with flat
    conditional sums. Same values as `simhash`, but codegen-friendly
    and map-side-partial at scale (the scalar expression interprets
    `bits` nested array filters per row).

    Each salted md5 is decoded ONCE into two 32-bit integers (8 hex
    chars each); a nibble's hi-vote is then its top bit, so the 16
    per-bit counters per salt are integer shift-and-mask sums instead
    of per-bit substring+set-membership over the hex string (measured
    1.5x on the sf0.1 corpus, identical values)."""
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(token_set(F.col(text_col))).alias("t")
    )
    n_salts = _n_salts(bits)
    cols: list[Column] = [F.col("id")]
    for j in range(n_salts):
        hj = _salted_md5(F.col("t"), j)
        cols.append(F.conv(F.substring(hj, 1, 8), 16, 10).cast("long").alias(f"m{j}_0"))
        cols.append(F.conv(F.substring(hj, 9, 8), 16, 10).cast("long").alias(f"m{j}_1"))
    h = toks.select(*cols)
    aggs = [F.count(F.lit(1)).alias("n")]
    for b in range(bits):
        j, i = divmod(b, _NIBBLES_PER_HASH)
        half, k = divmod(i, 8)
        # hex char k of the half spans bits [4*(7-k), 4*(7-k)+3]; the
        # nibble is >= 8 iff its top bit 4*(7-k)+3 is set
        shift = 4 * (7 - k) + 3
        aggs.append(
            F.sum(
                F.shiftright(F.col(f"m{j}_{half}"), shift).bitwiseAND(F.lit(1))
            ).alias(f"c{b}")
        )
    g = h.groupBy("id").agg(*aggs)
    acc = F.lit(0).cast("long")
    for b in range(bits):
        acc = acc.bitwiseOR(
            F.shiftleft((F.col(f"c{b}") * 2 > F.col("n")).cast("long"), b)
        )
    return g.select("id", acc.alias("sh"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two long columns (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 2,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with SimHash distance <= max_hamming.

    EXACT under blocking: the hash is cut into `max_hamming + 1` bit
    bands, so by pigeonhole any pair within the distance budget agrees
    on at least one whole band — the band equi-join finds every such
    pair while avoiding the all-pairs cross. Candidates are then
    filtered by true Hamming distance. With 64-bit hashes and
    max_hamming=2 each band key carries ~21 bits of entropy, so
    buckets stay sparse (the 16-bit version measurably saturated:
    one bucket held 54% of the corpus at sf0.1).
    """
    n_bands = max_hamming + 1
    h = simhash_df(docs, id_col, text_col, bits)
    # band i covers bits [offsets[i], offsets[i+1])
    base, rem = divmod(bits, n_bands)
    offsets = [0]
    for i in range(n_bands):
        offsets.append(offsets[-1] + base + (1 if i < rem else 0))
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("which"),
                F.shiftright("sh", offsets[i])
                .bitwiseAND((1 << (offsets[i + 1] - offsets[i])) - 1)
                .alias("key"),
            )
            for i in range(n_bands)
        ]
    )
    banded = h.select("id", "sh", F.explode(bands).alias("band")).select(
        "id", "sh", "band.which", "band.key"
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.which") == F.col("b.which"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard dedup with min-shingle-hash blocking
# ---------------------------------------------------------------------------


def ngram_jaccard_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.4,
) -> DataFrame:
    """(id_a, id_b, jaccard): word-k-gram-shingle Jaccard >= threshold,
    blocked on winnow-fingerprint equality (the min shingle hash).

    The block key is a 1-permutation MinHash: two docs can only be
    candidates if their minimum shingle hash agrees, which holds with
    probability = their true Jaccard — high-overlap pairs are caught,
    unrelated ones almost never collide, and the self-join stays
    near-linear (each fingerprint bucket is a handful of docs). The
    complement of the banded multi-hash LSH in near_dup_pairs: cheaper
    index (one hash per doc, no posexplode), lower recall at mid
    similarity, the standard first-pass shape for crawl dedup.
    """
    from ner_spark.functions.text import shingles, winnow_fingerprint

    # ONE projection computes both the shingle set and its fingerprint,
    # and the fp-keyed self-join carries the shingle arrays directly:
    # Spark's ReuseExchange materializes the (fp-partitioned) subtree
    # once for both sides, so the corpus is scanned once and shuffled
    # once. The earlier slim-candidates variant (block on (id, fp),
    # attach shingles after) scanned the corpus 3x (fp + each join
    # side) and shuffled it twice through id-keyed joins — measured
    # 6.8 s vs 2.4 s at sf0.1. One corpus-wide shuffle is the floor
    # for any shuffle-based dedup; buckets are dup-cluster-sized, so
    # the within-bucket pairing never goes quadratic on real corpora.
    # coalesce makes the computed join key NON-NULLABLE: otherwise the
    # inner join's isnotnull(key) constraint is pushed below the
    # repartition exchange as a Filter that re-evaluates the whole
    # winnow expression per row on the UNREPARTITIONED scan (one input
    # split = one core on this corpus) — measured 5.1 s vs 0.8 s at
    # sf0.1 for the self-join alone. The fingerprint is never null
    # (shingles() always yields >= 1 gram), so values are unchanged.
    shfp = docs.select(
        F.col(id_col).alias("id"),
        F.array_sort(F.array_distinct(shingles(F.col(text_col), k=k))).alias("sh"),
        F.coalesce(winnow_fingerprint(F.col(text_col), k=k), F.lit("")).alias("fp"),
    )
    a = shfp.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "fp")
    b = shfp.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
