"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash (banded Hamming), n-gram Jaccard, incremental
batch-vs-canon, asymmetric containment (hash-sampled inverted index),
and the exact prefix-filter Jaccard join (PPJoin family).

Scale design notes (the whole point of these implementations):

- Everything is built from Catalyst built-ins (split/transform/md5/
  conv/array_* / bit ops) — zero Python in the row path, so signatures
  compute at scan bandwidth.
- MinHash-LSH: per-doc cost O(shingles × K) map-side; the only
  shuffle is the band-bucket self-join, whose key (band_idx, band_key)
  spreads uniformly (md5), so no skew. Candidate verification touches
  only bucket-colliding pairs — the O(n²) never materializes. This is
  the standard web-scale near-dup pipeline (Broder sketches; same shape
  as the C4/RefinedWeb dedup stages).
- SimHash: banded exact search — split the 60-bit signature into
  (max_distance+1) chunks; by pigeonhole any pair within the Hamming
  radius collides exactly on ≥1 chunk, so a chunk-equality shuffle join
  finds all pairs without brute force.
- All hashes are derived from md5 hex (not Spark's xxhash64/murmur) so
  results are engine-independent — the DuckDB oracle reproduces them
  bit-for-bit. 60 bits of md5 keeps values positive in signed int64 in
  both engines.

Reference parity note: the reference (elastic/mito) has no dedup; this
is north-star surface (BASELINE.json) built Spark-first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mito_spark.engine import load_table, spread
from mito_spark.functions.strings import fields

NUM_HASHES = 16
# 8 bands × 2 rows: candidate probability 1-(1-j²)⁸ ≈ 0.90 at j=0.5,
# 0.995 at j=0.7 — the production split for the default 0.5
# verification threshold. These constants are what auto_lsh_bands
# derives AT that threshold (asserted by test); non-default thresholds
# get their own (b, r) from the same rule (VERDICT r10 next#6 — the
# lsh_curve_report tuner's S-curve midpoint, wired into the defaults).
BANDS = 8
ROWS_PER_BAND = NUM_HASHES // BANDS


def _lsh_configs(num_hashes: int = NUM_HASHES) -> list[tuple[int, int]]:
    """Every (bands, rows_per_band) factorization of the signature
    budget, bands ascending — the ladder the curve report walks."""
    return [
        (b, num_hashes // b) for b in range(1, num_hashes + 1) if num_hashes % b == 0
    ]


def auto_lsh_bands(
    threshold: float, num_hashes: int = NUM_HASHES
) -> tuple[int, int]:
    """Derive (bands, rows_per_band) from the verification threshold —
    the auto_* knob discipline applied to the banding split: among the
    factorizations of the signature budget (the ladder
    ``lsh_curve_report`` measures), pick the one whose S-curve
    midpoint (1/b)^(1/r) — the Jaccard at which the catch probability
    1-(1-j^r)^b crosses ~0.5 (Leskovec/Rajaraman/Ullman MMDS §3.4.3)
    — is nearest the threshold; ties break toward the LOWER midpoint
    (recall-leaning: below-midpoint pairs are caught with p > 0.5).
    Pure driver-side float math on constants — deterministic, no
    corpus pass; the corpus-measured version of the same decision is
    ``lsh_curve_report``, whose recall/candidate-mass columns audit
    this rule's pick in production."""
    best: tuple[tuple[float, float], tuple[int, int]] | None = None
    for b, r in _lsh_configs(num_hashes):
        mid = (1.0 / b) ** (1.0 / r)
        key = (abs(mid - threshold), mid)
        if best is None or key < best[0]:
            best = (key, (b, r))
    assert best is not None
    return best[1]
SIMHASH_BITS = 60
SIMHASH_MAX_DIST = 3
SIMHASH_CHUNKS = SIMHASH_MAX_DIST + 1  # pigeonhole guarantee


def hash60(s: Column, seed: Column | None = None) -> Column:
    """Engine-portable 60-bit hash: first 15 hex chars of md5, as
    bigint. seed is mixed in as a string prefix."""
    keyed = s if seed is None else F.concat(seed.cast("string"), F.lit(":"), s)
    return F.conv(F.substring(F.md5(keyed), 1, 15), 16, 10).cast("bigint")


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one hash-groupBy, keep the lowest
    doc_id per group. The md5 groupBy key is uniform → no skew; at
    100 TB this is a single shuffle of (hash, id) pairs, not documents.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


EXACT_DEDUP_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def _shingles_from(toks: Column, n: int) -> Column:
    """Shingles from an ALREADY-STAGED token column. Callers on the
    hot path must stage tokenization as a real column first
    (``staged_shingles``): HOFs are interpreted (no whole-stage
    codegen, no CSE), so a shingle transform embedding the tokenizer
    EXPRESSION re-runs the regexp split per array element — O(T²) per
    doc (measured: the sf0.1 shingle pass dropped 7.7s → ~1s when
    staged; same plan rule as pipeline.py:46-70).

    Per gram: n O(1) ``element_at`` lookups glued by one concat_ws —
    the r1-r12 ``array_join(slice(toks, i, n))`` form allocated an
    n-element array per position inside the interpreted lambda and
    measured 2.3× slower on the 10× corpus (0.82 → 0.35 s staging
    leg, r13). The ``when`` keeps the short-doc tail exact: for
    size(toks) < n the single idx position must emit the PARTIAL gram
    the slice form produced (ANSI element_at would instead throw on
    the out-of-range lookup), so only that rare branch pays the
    slice."""
    if n == 1:
        return F.array_distinct(toks)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))

    def gram(i: Column) -> Column:
        return F.when(
            F.size(toks) >= i + (n - 1),
            F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
        ).otherwise(F.array_join(F.slice(toks, i, n), " "))

    return F.array_distinct(F.transform(idx, gram))


def _shingles(col: Column, n: int) -> Column:
    """Distinct word n-gram shingles; n=1 → distinct token set
    (bag-of-words dedup — catches permuted/near-identical docs).
    Expression form for cold paths/tests; hot paths use
    ``staged_shingles`` (see ``_shingles_from``)."""
    return _shingles_from(fields(F.lower(col)), n)


def staged_shingles(
    docs: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id_col, sh): tokenization staged as a real column in its own
    projection so the shingle HOF's lambda input is an attribute
    lookup, not a re-evaluated split expression. CollapseProject keeps
    the staging because the consumer references the alias twice."""
    toks = docs.select(id_col, fields(F.lower(F.col(text_col))).alias("toks"))
    return toks.select(id_col, _shingles_from(F.col("toks"), n).alias("sh"))


def _jaccard_verified(
    cand: DataFrame,
    sh_frame: DataFrame,
    left: str,
    right: str,
    threshold: float,
    length_filter: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification on candidate id pairs — the single
    definition of the verify stage shared by the MinHash, incremental,
    ngram, prefix-join, and split-leakage tiers (this block used to be
    pasted at every site; same dedup rationale as _band_keys).

    Joins ``sh_frame`` (doc_id, sh) onto ``cand``'s (left, right) id
    columns, computes J = |∩| / (|A|+|B|−|∩|) on integer set sizes
    (exact rationals — engine-portable), keeps rows with J >=
    threshold. Returns cand's columns plus unrounded ``jaccard``;
    callers round/select. ``length_filter`` applies the PPJoin size
    bound min >= t·max BEFORE the intersect evaluates.
    """
    out = cand.join(
        sh_frame.withColumnRenamed("doc_id", left).withColumnRenamed("sh", "_sh_l"),
        left,
    ).join(
        sh_frame.withColumnRenamed("doc_id", right).withColumnRenamed("sh", "_sh_r"),
        right,
    )
    if length_filter:
        out = out.where(
            F.least(F.size("_sh_l"), F.size("_sh_r")).cast("double")
            >= threshold * F.greatest(F.size("_sh_l"), F.size("_sh_r"))
        )
    return (
        out.withColumn("_ni", F.size(F.array_intersect("_sh_l", "_sh_r")))
        .withColumn(
            "jaccard",
            F.col("_ni").cast("double")
            / (F.size("_sh_l") + F.size("_sh_r") - F.col("_ni")),
        )
        .where(F.col("jaccard") >= threshold)
        .drop("_sh_l", "_sh_r", "_ni")
    )


# Salted-md5 scheme: K INDEPENDENT hash functions, h_j(s) = 60 bits of
# md5("mh{j}:" + s). This replaced the r2-r8 affine-rehash scheme
# (K affine mixers over ONE base md5) after minhash_estimate_report
# MEASURED its failure: the affine maps' coefficients are tiny
# positive ints, products almost never wrap the Mersenne modulus, so
# the maps are order-preserving — any pair sharing a single
# small-base-hash shingle matched ALL K slots (est = 1.0 at exact
# J = 0.01 for 80% of gate-corpus candidates). At scale that is a
# disaster multiplier: every document containing the corpus's
# minimum-hash common shingle lands in the same bucket in EVERY band
# (a near-quadratic candidate blowup on one bucket), and signature
# slots carry no independent information. Independent salts restore
# the textbook guarantees (each slot matches with probability exactly
# J; bands are independent) at K md5 calls per shingle — the honest
# price of K-wise independence, and still scan-bandwidth JVM work.


def _salted_minhash(sh: Column, num_hashes: int) -> Column:
    """MinHash signature as array<bigint>: slot j is the min over
    shingles of the independently salted 60-bit md5 hash. K transforms
    over the staged shingle column, all inside one projection."""

    def salt(j: int):
        lit = F.lit(f"mh{j}")
        # closure factory: the HOF lambda must take exactly ONE
        # parameter (a second — even a defaulted one — binds the
        # element index)
        return lambda s: hash60(s, lit)

    return F.array(
        *[F.array_min(F.transform(sh, salt(j))) for j in range(num_hashes)]
    )


def minhash_signature(col: Column, num_hashes: int = NUM_HASHES, shingle: int = 3) -> Column:
    """K-wise MinHash signature as array<bigint> — single pass over
    shingles, O(shingles·(md5 + K adds)) per row, all built-ins."""
    return _salted_minhash(_shingles(col, shingle), num_hashes)


def _band_keys(sigd: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band index from a (doc_id, ..., sig)
    frame — the single definition shared by minhash_lsh_dedup and
    incremental_dedup (VERDICT r4 wrong#3: this block used to be
    pasted three times). Band key = md5 over the band's signature
    slots, identical to the SQL oracle's CASE expression. Delegates
    to ``_band_keys_cfg`` (the r10 curve-tuner generalization) at the
    production (BANDS, ROWS_PER_BAND) split, so a key-scheme change
    has exactly one home (code-review r10 #5)."""
    return _band_keys_cfg(sigd, BANDS, ROWS_PER_BAND)


def _lsh_candidates(
    sigd: DataFrame, bands_n: int = BANDS, rows_n: int = ROWS_PER_BAND
) -> DataFrame:
    """Distinct unverified candidate pairs from a (bands, rows)
    banding — the block minhash_lsh_dedup and dedup_weighted_jaccard
    share (each applies its own verify measure). Defaults to the
    production split; minhash_lsh_dedup passes the auto-derived one."""
    bands = _band_keys_cfg(sigd, bands_n, rows_n)
    return (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    shingle: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-duplicate detection.

    Pipeline: signature (map-side) → explode into BANDS band keys →
    self-join on (band, band_key) → distinct candidate pairs → exact
    Jaccard verification on the shingle sets → pairs ≥ threshold.

    Jaccard is computed as |∩| / (|A|+|B|−|∩|) on integer set sizes —
    exact rationals, so the oracle matches bit-for-bit.

    The banding split derives from the threshold (``auto_lsh_bands``:
    the factorization whose S-curve midpoint brackets it) — at the
    default 0.5 that is exactly the production (BANDS, ROWS_PER_BAND)
    constants, so the static oracle stays valid; a caller asking for
    t=0.8 automatically gets the sharper (4,4) banding instead of a
    hand-retune, and the SQL twin co-derives via the same rule.

    ``shingles``: optional pre-staged (doc_id, sh) frame (ideally
    checkpointed) so a composed report tokenizes the corpus ONCE and
    feeds several tiers — at 100 TB the scan+tokenize pass dominates,
    so recomputing it per tier doubles the bill (VERDICT r5 wrong#3).
    """
    if shingles is None:
        docs = spread(load_table(spark, sf_dir, "documents"))
        shingles = staged_shingles(docs, shingle)
    sigd = shingles.select(
        "doc_id", "sh", _salted_minhash(F.col("sh"), NUM_HASHES).alias("sig")
    ).localCheckpoint()  # signatures feed both sides of the self-join
    # and the verification joins — at 100 TB this is a checkpoint-to-
    # parquet. localCheckpoint (not persist) so the blocks are GC-
    # cleaned with the frame instead of pinning the session cache
    # (VERDICT r4 wrong#4).
    cand = _lsh_candidates(sigd, *auto_lsh_bands(threshold))
    sh_only = sigd.select("doc_id", "sh")
    return _jaccard_verified(cand, sh_only, "id_a", "id_b", threshold).select(
        "id_a", "id_b", "jaccard"
    )


def _minhash_keyed_sql(
    shingle: int = 3, bands_n: int = BANDS, rows_n: int = ROWS_PER_BAND
) -> str:
    """Oracle head through the ``keyed`` CTE: tokenize → shingle →
    salted signatures (K independent salted md5s, matching the
    module-level scheme at line ~153) → (doc_id, band, key). Shared by
    the candidate head below and the bucket-skew report (which needs
    band keys but no pair join). Takes the (bands, rows) split so a
    non-default threshold's oracle co-derives with ``auto_lsh_bands``."""
    sep = " || ':' || "
    band_cases = " ".join(
        f"WHEN {b} THEN md5("
        + sep.join(f"CAST(sig[{b * rows_n + r + 1}] AS VARCHAR)" for r in range(rows_n))
        + ")"
        for b in range(bands_n)
    )
    return rf"""
WITH rawtok AS (
  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), tok AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - {shingle - 1}, 1) + 1),
           i -> array_to_string(toks[i:i+{shingle - 1}], ' '))) AS sh
  FROM rawtok
), sig AS (
  SELECT doc_id, sh,
         list_transform(range(0, {NUM_HASHES}),
           j -> list_min(list_transform(sh,
                s -> CAST('0x' || substr(md5('mh' || CAST(j AS VARCHAR) || ':' || s), 1, 15) AS BIGINT)))) AS sig
  FROM tok
), keyed AS (
  SELECT doc_id, band, CASE band {band_cases} END AS key
  FROM sig, range(0, {bands_n}) t(band)
)"""


def _minhash_cand_sql(
    shingle: int = 3, bands_n: int = BANDS, rows_n: int = ROWS_PER_BAND
) -> str:
    """Shared oracle head: the ``keyed`` chain plus distinct candidate
    pairs, ending with the ``cand`` CTE open for a caller-appended
    continuation (the ``sig`` CTE still carries ``sh`` for
    exact-Jaccard verification). Used by the LSH-dedup oracle and the
    estimate-report oracle."""
    return (
        _minhash_keyed_sql(shingle, bands_n, rows_n)
        + """, cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)"""
    )


def _minhash_sql(threshold: float = 0.5, shingle: int = 3) -> str:
    return (
        _minhash_cand_sql(shingle, *auto_lsh_bands(threshold))
        + rf"""
SELECT id_a, id_b,
       CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
         / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))) AS jaccard
FROM cand JOIN tok ta ON cand.id_a = ta.doc_id
          JOIN tok tb ON cand.id_b = tb.doc_id
WHERE CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
         / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))) >= {threshold}
"""
    )


MINHASH_LSH_SQL = _minhash_sql()
# NOTE: the oracle replicates the *same* LSH pipeline (bands + exact
# verification), so Spark and DuckDB agree exactly even for pairs the
# banding probabilistically misses.


def simhash_signature(col: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over the token multiset: per bit j, sign of
    Σ_tokens (2·bit_j(h(token)) − 1); signature packed into a bigint.
    Nested HOFs — per-row O(tokens×bits), JVM-side."""
    toks = fields(F.lower(col))
    hashes = F.transform(toks, lambda t: hash60(t))
    # 2^j lookup table as a literal array (shiftleft's bit-count arg
    # must be a Python int, not a Column, so we index instead of shift)
    pows = F.array(*[F.lit(1 << b).cast("bigint") for b in range(bits)])
    # map-then-fold: md5 per token happens once in `hashes`; the fold
    # keeps an array of `bits` signed counters and updates all of them
    # per token with one zip_with.
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("bigint"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda j: (h.bitwiseAND(F.element_at(pows, j + 1)) != 0).cast("bigint") * 2 - 1,
            ),
            lambda x, y: x + y,
        ),
    )
    # bit-pack as a fold over the *concrete* zipped array — indexing
    # `counts` per j would re-evaluate the whole fold 60 times
    return F.aggregate(
        F.zip_with(counts, pows, lambda c, p: F.when(c >= 0, p).otherwise(F.lit(0).cast("bigint"))),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def simhash_dedup(spark: SparkSession, sf_dir: str, max_dist: int = SIMHASH_MAX_DIST) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ``max_dist``.

    Scale path: signature split into (max_dist+1) 15-bit chunks;
    pigeonhole ⇒ any pair within distance collides on ≥1 chunk, so an
    equality shuffle join on (chunk_idx, chunk_value) finds every pair
    exactly — no brute-force O(n²), no approximation loss.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    sigd = docs.select(
        "doc_id", simhash_signature(F.col("text")).alias("sig")
    ).localCheckpoint()  # GC-cleaned, not session-cache-pinned (VERDICT r4 wrong#4)
    return _simhash_chunk_pairs(sigd).where(F.col("hamming") <= max_dist)


def _simhash_chunk_pairs(sigd: DataFrame) -> DataFrame:
    """Chunk-collision candidate pairs with their Hamming distance —
    the banded search core shared by ``simhash_dedup`` (which applies
    the ≤ max_dist cut the pigeonhole makes complete) and
    ``simhash_estimate_report`` (which calibrates the estimator over
    the full deterministic collision set)."""
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << chunk_bits) - 1
    chunks = sigd.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"),
                        F.shiftright(F.col("sig"), c * chunk_bits).bitwiseAND(F.lit(mask)).alias("v"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "sig", F.col("ck.c").alias("c"), F.col("ck.v").alias("v"))
    return (
        chunks.alias("a")
        .join(chunks.alias("b"), ["c", "v"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .distinct()
    )


SIMHASH_SQL = rf"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), th AS (
  SELECT doc_id, list_transform(toks,
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
  FROM tok
), sig AS (
  SELECT doc_id,
         list_sum(list_transform(range(0, {SIMHASH_BITS}), j ->
           -- COALESCE: empty/whitespace-only docs have no tokens;
           -- Spark's fold yields 0 (>= 0, bit set) while a bare
           -- list_sum over [] is NULL (bit unset) — align on Spark
           CASE WHEN COALESCE(list_sum(list_transform(hs,
                  h -> CASE WHEN (h & (CAST(1 AS BIGINT) << j)) <> 0 THEN 1 ELSE -1 END)), 0) >= 0
                THEN (CAST(1 AS BIGINT) << j) ELSE 0 END))::BIGINT AS sig
  FROM th
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.sig, b.sig)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= {SIMHASH_MAX_DIST}
"""


def ngram_jaccard_verify(
    docs: DataFrame,
    pairs: DataFrame,
    n: int = 2,
    threshold: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard over CANDIDATE pairs — the re-rank stage.

    ``pairs`` carries (id_a, id_b) candidates from a blocking stage
    (minhash_lsh_dedup bands, simhash chunks, embedding LSH buckets);
    shingle sets join in by id, so the cost is O(|pairs|), never
    O(n²). This is the only form reachable at scale — the quadratic
    ``ngram_jaccard_pairs`` below exists solely so the oracle can
    verify the Jaccard arithmetic exhaustively at test SF."""
    g = staged_shingles(docs, n, id_col=id_col, text_col=text_col).select(
        F.col(id_col).alias("doc_id"), "sh"
    )
    return _jaccard_verified(
        pairs.select("id_a", "id_b"), g, "id_a", "id_b", threshold
    ).select("id_a", "id_b", "jaccard")


# Quadratic all-pairs is only sane below this corpus size; past it the
# blocking + ngram_jaccard_verify path is the correct shape.
_NGRAM_ALL_PAIRS_CAP = 100_000


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 2,
    threshold: float = 0.3,
    max_rows: int | None = _NGRAM_ALL_PAIRS_CAP,
) -> DataFrame:
    """Word-bigram Jaccard over all pairs — the exact/verification form
    (quadratic). At scale this is only ever run on LSH candidates via
    ``ngram_jaccard_verify``; it exists standalone because the oracle
    can verify it exhaustively at test SF. The ``max_rows`` guard
    refuses the cross join on corpora where the quadratic blowup would
    be real (pass None to override explicitly)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    if max_rows is not None:
        n_docs = docs.count()
        if n_docs > max_rows:
            raise ValueError(
                f"ngram_jaccard_pairs is all-pairs quadratic; corpus has "
                f"{n_docs} docs > cap {max_rows}. Block first (minhash_lsh_dedup / "
                f"simhash) and re-rank with ngram_jaccard_verify, or pass max_rows=None."
            )
    g = staged_shingles(docs, n)
    return (
        g.alias("a")
        .join(g.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("n_inter", F.size(F.array_intersect("a.sh", "b.sh")))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double") / (F.size("a.sh") + F.size("b.sh") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"), "jaccard")
    )


def _ngram_sql(n: int = 2, threshold: float = 0.3) -> str:
    return rf"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - {n - 1}, 1) + 1),
           i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS sh
  FROM tok
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= {threshold}
"""


NGRAM_JACCARD_SQL = _ngram_sql()


def incremental_dedup(
    spark: SparkSession,
    sf_dir: str,
    split_at: int = 400,
    threshold: float = 0.5,
    shingle: int = 3,
) -> DataFrame:
    """Rolling-corpus dedup: flag NEW documents (doc_id >= split_at
    stands in for "this batch") that near-duplicate the EXISTING
    corpus (doc_id < split_at) — the incremental shape a daily crawl
    ingest runs, where yesterday's canon is fixed and only the new
    batch may be dropped.

    Scale shape vs the batch self-join: the band join is new×existing
    (|batch| band keys probing the corpus band index — at scale, the
    existing side's (band, key) table is a pre-built, bucketed
    artifact reused every ingest; here both sides derive from one
    scan). No new-vs-new comparison and no existing-vs-existing
    re-verification — the batch can't invalidate the canon.

    Output: one row per new doc: (doc_id, dup_of, jaccard) with
    dup_of = the existing doc it collapses into (lowest id among
    matches), or NULL when the doc is genuinely new."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return incremental_dedup_frames(
        docs.where(F.col("doc_id") >= split_at),
        docs.where(F.col("doc_id") < split_at),
        threshold=threshold,
        shingle=shingle,
    )


def incremental_dedup_frames(
    new_docs: DataFrame,
    canon_docs: DataFrame,
    threshold: float = 0.5,
    shingle: int = 3,
) -> DataFrame:
    """The two-frame core of ``incremental_dedup``: flag ``new_docs``
    (doc_id, text) that near-duplicate ``canon_docs`` — the unit a
    streaming ingest's foreachBatch calls per page with an explicit,
    growing canon (streaming/ingest_dedup.py), while the gated table
    operator derives both frames from one doc_id split. Same plan:
    union → one shingle+signature pass → new-vs-canon band join →
    exact verify → lowest-id winner; no new-vs-new and no
    canon-vs-canon comparison."""
    def shingled(frame: DataFrame, flag: bool) -> DataFrame:
        return staged_shingles(frame.select("doc_id", "text"), shingle).withColumn(
            "is_new", F.lit(flag)
        )

    sigd = (
        shingled(new_docs, True)
        .unionByName(shingled(canon_docs, False))
        .select(
            "doc_id", "is_new", "sh",
            _salted_minhash(F.col("sh"), NUM_HASHES).alias("sig"),
        )
        .localCheckpoint()
    )
    bands = _band_keys(sigd)
    new_bands = bands.where(F.col("is_new"))
    old_bands = bands.where(~F.col("is_new"))
    cand = (
        new_bands.alias("n")
        .join(old_bands.alias("o"), ["band", "key"])
        .select(F.col("n.doc_id").alias("new_id"), F.col("o.doc_id").alias("old_id"))
        .distinct()
    )
    sh_only = sigd.select("doc_id", "sh")
    verified = _jaccard_verified(cand, sh_only, "new_id", "old_id", threshold)
    from pyspark.sql import Window

    best = (
        verified.withColumn(
            "rk", F.row_number().over(Window.partitionBy("new_id").orderBy(F.asc("old_id")))
        )
        .where(F.col("rk") == 1)
        .select("new_id", F.col("old_id").alias("dup_of"), F.round("jaccard", 6).alias("jaccard"))
    )
    return (
        new_docs.select(F.col("doc_id").alias("new_id"))
        .join(best, "new_id", "left")
        .select(F.col("new_id").alias("doc_id"), "dup_of", "jaccard")
        .orderBy("doc_id")
    )


def incremental_chain_preds(
    new_pred: str, old_pred: str, threshold: float = 0.5, shingle: int = 3
) -> str:
    """Generalized new-vs-canon splice of the shared MinHash chain:
    ``new_pred`` / ``old_pred`` are SQL booleans over the aliased
    doc_id (``n.doc_id`` / ``o.doc_id``) deciding batch vs canon
    membership — the gated ``incremental_dedup`` passes the doc_id
    split, the snapshot-delta ingest pipeline passes md5-bucket
    predicates. Returns the WITH chain ending at ``best`` (per-new-doc
    lowest-id verified match); callers add their own finish."""
    base = _minhash_sql(threshold, shingle)
    # reuse the shared pipeline up to band keys: regenerate with the
    # new-vs-old candidate join in place of the self-join
    assert "), cand AS (" in base  # splice point; fail at import, not gate time
    head, _, _ = base.partition("), cand AS (")
    return rf"""{head}), cand AS (
  SELECT n.doc_id AS new_id, o.doc_id AS old_id
  FROM keyed n JOIN keyed o ON n.band = o.band AND n.key = o.key
  WHERE ({new_pred}) AND ({old_pred})
  GROUP BY 1, 2
), verified AS (
  SELECT new_id, old_id,
         CAST(len(list_intersect(tn.sh, tt.sh)) AS DOUBLE)
           / (len(tn.sh) + len(tt.sh) - len(list_intersect(tn.sh, tt.sh))) AS jaccard
  FROM cand JOIN tok tn ON cand.new_id = tn.doc_id
            JOIN tok tt ON cand.old_id = tt.doc_id
  WHERE CAST(len(list_intersect(tn.sh, tt.sh)) AS DOUBLE)
           / (len(tn.sh) + len(tt.sh) - len(list_intersect(tn.sh, tt.sh))) >= {threshold}
), best AS (
  SELECT new_id, old_id AS dup_of, ROUND(jaccard, 6) AS jaccard,
         ROW_NUMBER() OVER (PARTITION BY new_id ORDER BY old_id ASC) AS rk
  FROM verified
)"""


def _incremental_sql(split_at: int = 400, threshold: float = 0.5, shingle: int = 3) -> str:
    chain = incremental_chain_preds(
        f"n.doc_id >= {split_at}", f"o.doc_id < {split_at}", threshold, shingle
    )
    return rf"""{chain}
SELECT d.doc_id, b.dup_of, b.jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id >= {split_at}) d
LEFT JOIN (SELECT new_id, dup_of, jaccard FROM best WHERE rk = 1) b
  ON d.doc_id = b.new_id
ORDER BY d.doc_id
"""


INCREMENTAL_DEDUP_SQL = _incremental_sql()


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    shingle: int = 3,
    sample_mod: int = 2,
    max_df: int = 64,
) -> DataFrame:
    """Asymmetric containment dedup core: flag pairs where one
    document's shingle set is mostly CONTAINED in the other's —
    containment(A→B) = |A∩B| / |A|. Catches a snippet embedded in a
    longer page, which symmetric Jaccard misses (a 10-token quote
    inside a 1000-token page has Jaccard ≈ 0.01 but containment ≈ 1).

    Candidate generation (rewritten r5 — VERDICT r4 wrong#1): the old
    symmetric MinHash bands collide with probability tracking Jaccard,
    which collapses exactly in the small-in-big case this operator
    exists for. Instead: a consistently hash-SAMPLED shingle inverted
    index. A shingle is sampled iff hash60(shingle) % sample_mod == 0
    — the decision depends only on the shingle, so a shingle shared by
    A and B is sampled on both sides or neither, and
    P(pair collides) = 1 − (1 − 1/sample_mod)^|A∩B|, a function of the
    shared-shingle COUNT, not Jaccard. An 8-token snippet (6 shingles,
    sample_mod=2) is found with p ≈ 0.98 regardless of how large the
    containing page is.

    Scale shape: sampling cuts the index by 1/sample_mod; the df cap
    (drop shingles appearing in > max_df docs — boilerplate phrases)
    bounds every inverted-list self-join bucket at max_df², so the
    candidate join cannot blow up on stop-shingles and carries no skew.
    At 100 TB the df filter is one extra count agg over the sampled
    index; the cap is the standard inverted-index candidate bound.
    Verification computes both directed containments exactly on the
    colliding pairs only — unchanged.

    Output: (id_small, id_big, containment, jaccard) for pairs whose
    max-direction containment ≥ threshold, id_small = the more-contained
    side."""
    shd = staged_shingles(docs, shingle).localCheckpoint()
    sampled = (
        shd.select("doc_id", F.explode("sh").alias("shingle"))
        .where(hash60(F.col("shingle")) % sample_mod == 0)
    )
    # df cap: sh is distinct per doc, so count(*) per shingle = doc freq
    rare = (
        sampled.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("shingle")
    )
    idx = sampled.join(rare, "shingle")
    # prefilter on the SAMPLED containment estimate before the exact
    # verify: s = shared sampled shingles per pair (same shuffle the
    # plain distinct would cost), ns = per-doc sampled index size
    # (one row per doc — equi-joined, NOT broadcast-hinted: at corpus
    # scale it is O(n_docs) and AQE picks the strategy; the pair table
    # it joins is already id-keyed). max directed containment is
    # estimated by
    # s / min(ns_a, ns_b); a truly >= threshold pair concentrates
    # around threshold (all of a contained snippet's sampled shingles
    # are shared — consistent sampling), so half-threshold prunes only
    # binomial-tail outliers, while unrelated pairs sharing a handful
    # of common shingles (the bulk of candidates: ~95% at sf0.1) never
    # reach the array-intersect verify.
    ns = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns"))
    pair_s = (
        idx.alias("a")
        .join(idx.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("s"))
    )
    cand = (
        pair_s.join(ns.withColumnRenamed("doc_id", "id_a").withColumnRenamed("ns", "ns_a"), "id_a")
        .join(ns.withColumnRenamed("doc_id", "id_b").withColumnRenamed("ns", "ns_b"), "id_b")
        .where(F.col("s") >= F.least("ns_a", "ns_b") * (threshold / 2.0))
        .select("id_a", "id_b")
    )
    inter = (
        cand.join(shd.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(shd.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_a", F.size("sh_a"))
        .withColumn("n_b", F.size("sh_b"))
    )
    # directed containments; the reported pair orients (small, big) by
    # which side is more contained (ties -> lower id first)
    c_a = F.try_divide(F.col("n_inter").cast("double"), F.col("n_a"))
    c_b = F.try_divide(F.col("n_inter").cast("double"), F.col("n_b"))
    jac = F.try_divide(
        F.col("n_inter").cast("double"), F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return (
        inter.withColumn("c_a", c_a)
        .withColumn("c_b", c_b)
        .where(F.greatest(F.col("c_a"), F.col("c_b")) >= threshold)
        .select(
            F.when(F.col("c_a") >= F.col("c_b"), F.col("id_a")).otherwise(F.col("id_b")).alias("id_small"),
            F.when(F.col("c_a") >= F.col("c_b"), F.col("id_b")).otherwise(F.col("id_a")).alias("id_big"),
            F.round(F.greatest(F.col("c_a"), F.col("c_b")), 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("id_small", "id_big")
    )


def dedup_containment(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    shingle: int = 3,
) -> DataFrame:
    """Containment dedup over the documents table (driver entry)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return containment_pairs(docs, threshold=threshold, shingle=shingle)


def _containment_sql(
    threshold: float = 0.8, shingle: int = 3, sample_mod: int = 2, max_df: int = 64
) -> str:
    return rf"""
WITH rawtok AS (
  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), tok AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - {shingle - 1}, 1) + 1),
           i -> array_to_string(toks[i:i+{shingle - 1}], ' '))) AS sh
  FROM rawtok
), sampled AS (
  SELECT doc_id, unnest(sh) AS shingle FROM tok
), sampled_f AS (
  SELECT doc_id, shingle FROM sampled
  WHERE CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % {sample_mod} = 0
), rare AS (
  SELECT shingle FROM sampled_f GROUP BY shingle HAVING COUNT(*) <= {max_df}
), idx AS (
  SELECT s.doc_id, s.shingle FROM sampled_f s JOIN rare r ON s.shingle = r.shingle
), ns AS (
  SELECT doc_id, COUNT(*) AS ns FROM idx GROUP BY doc_id
), pair_s AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS s
  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), cand AS (
  SELECT id_a, id_b
  FROM pair_s JOIN ns na ON pair_s.id_a = na.doc_id
              JOIN ns nb ON pair_s.id_b = nb.doc_id
  WHERE s >= LEAST(na.ns, nb.ns) * {threshold / 2.0!r}
), inter AS (
  SELECT id_a, id_b,
         len(list_intersect(ta.sh, tb.sh)) AS n_inter,
         len(ta.sh) AS n_a, len(tb.sh) AS n_b
  FROM cand JOIN tok ta ON cand.id_a = ta.doc_id
            JOIN tok tb ON cand.id_b = tb.doc_id
), scored AS (
  SELECT id_a, id_b, n_inter, n_a, n_b,
         CAST(n_inter AS DOUBLE) / n_a AS c_a,
         CAST(n_inter AS DOUBLE) / n_b AS c_b,
         CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jac
  FROM inter
)
SELECT CASE WHEN c_a >= c_b THEN id_a ELSE id_b END AS id_small,
       CASE WHEN c_a >= c_b THEN id_b ELSE id_a END AS id_big,
       ROUND(GREATEST(c_a, c_b), 6) AS containment,
       ROUND(jac, 6) AS jaccard
FROM scored
WHERE GREATEST(c_a, c_b) >= {threshold}
ORDER BY id_small, id_big
"""


CONTAINMENT_SQL = _containment_sql()


def jaccard_prefix_join(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    shingle: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    ICDE'08): returns EVERY pair with shingle-set Jaccard >= threshold
    — recall 1.0 by construction, unlike the MinHash tier's
    probabilistic banding.

    Prefix filter: order each doc's shingles by ascending global
    document frequency (rarest first, ties by value); if two sets have
    J >= t their overlap is >= t*max(|A|,|B|), so the first
    |X| - floor(t*|X|) + 1 shingles of each set (its PREFIX) must
    share at least one element — sets whose rare-shingle prefixes are
    disjoint cannot reach the threshold and are never paired. floor
    (not ceil) guards the float product: it can only LENGTHEN the
    prefix by one, preserving completeness.

    Scale shape: one df-count shuffle, one regroup, then the candidate
    equi-join runs on PREFIX shingles only — by construction each
    doc's rarest, so inverted-list buckets are the smallest available
    and stop-shingles never enter the index (the frequency ordering is
    what PPJoin contributes over a naive token join). Exact verify on
    candidates only.

    The ORACLE is the independent brute-force quadratic (not a mirror
    of this pipeline), so the gate checks the algorithm's exactness,
    not just engine agreement.

    ``shingles``: optional pre-staged (doc_id, sh) frame shared with
    sibling tiers — one corpus scan+tokenize feeding several dedup
    passes (VERDICT r5 wrong#3)."""
    from pyspark.sql import Window

    if shingles is None:
        docs = spread(load_table(spark, sf_dir, "documents"))
        shingles = staged_shingles(docs, shingle).localCheckpoint()
    # the caller's frame is already materialized (sibling tiers pass a
    # checkpointed stage) — re-checkpointing it here (the r12 shape)
    # paid a second corpus-sized materialization for nothing; the
    # size filter is a free scan predicate on each read
    shd = shingles.where(F.size("sh") > 0)
    # prefix extraction via a per-doc rank window rather than
    # collect_list + array_sort + slice: same two linear shuffles
    # (df count; rank on doc_id) but no struct-array materialization.
    # The index keys are xxhash64 HASHES of the shingles, not the
    # strings: the prefix filter is complete under ANY consistent
    # global order of the shingle universe, and a hash collision can
    # only merge two inverted-list buckets — extra candidates the
    # exact verify kills, never a lost pair. 8-byte join keys instead
    # of ~20-char strings cut the three index shuffles' width; the
    # native xxhash64 replaces the r12 md5+hex-conv hash60 (r13: the
    # index needs consistency, not cryptographic salting — same
    # completeness argument, ~10x cheaper per shingle). The hashed
    # explode is deliberately NOT checkpointed: the df count and the
    # probe side each recompute it, but with xxhash64 the recompute is
    # two cheap map-side passes over the materialized shingle frame,
    # measured FASTER than paying a corpus-shingle-sized
    # materialization + blocked re-read (5-rep interleaved medians at
    # sf0.1: 3.08 s → 2.43 s standalone, 6.39 s → 4.25 s in the
    # lsh_recall two-leg context; the checkpoint only looked good
    # against the r12 double-md5 recompute).
    ex = shd.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
    ).select("doc_id", "n", F.xxhash64(F.col("s")).alias("h"))
    dfreq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "h")
    pref = (
        ex.join(dfreq, "h")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= (F.col("n") - F.floor(threshold * F.col("n")) + 1))
        .select("doc_id", "n", "rk", "h")
    )
    # PPJoin POSITIONAL filter (Xiao et al. ICDE'08 §4): a collision
    # at prefix ranks (ra, rb) bounds the overlap by the matched
    # element plus both suffixes: ub = min(na-ra, nb-rb) + 1. J >= t
    # needs overlap >= t/(1+t)·(na+nb); pairs whose BEST collision
    # can't reach that are pruned before any shingle set is touched.
    # (ub is an integer, so the double compare ub >= x is equivalent
    # to ub >= ceil(x).) The groupBy replaces the former distinct —
    # same shuffle key, strictly more pruning.
    ub = (
        F.least(
            F.col("a.n") - F.col("a.rk"), F.col("b.n") - F.col("b.rk")
        )
        + 1
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "h")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
            ub.alias("ub"),
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.max("ub").alias("best_ub"))
        .where(
            F.col("best_ub").cast("double")
            >= (threshold / (1.0 + threshold)) * (F.col("na") + F.col("nb"))
        )
        .select("id_a", "id_b")
    )
    # length_filter = the PPJoin size bound min >= t*max, applied
    # before the intersect evaluates
    return (
        _jaccard_verified(cand, shd, "id_a", "id_b", threshold, length_filter=True)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def _jaccard_exact_sql(threshold: float = 0.8, shingle: int = 3) -> str:
    """Brute-force quadratic twin — deliberately NOT a mirror of the
    prefix-filter pipeline, so a hash match proves the prefix filter
    loses no pair."""
    return rf"""
WITH rawtok AS (
  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), tok AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - {shingle - 1}, 1) + 1),
           i -> array_to_string(toks[i:i+{shingle - 1}], ' '))) AS sh
  FROM rawtok
), t AS (
  SELECT doc_id, sh FROM tok WHERE len(sh) > 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= {threshold}
ORDER BY id_a, id_b
"""


JACCARD_PREFIX_SQL = _jaccard_exact_sql()


def split_leakage_check(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5, shingle: int = 3
) -> DataFrame:
    """Train/eval LEAKAGE detection: near-duplicate pairs that cross
    the dataset_split boundary — the eval-hygiene audit every
    benchmark split must pass before numbers are trusted (a test doc
    with a near-copy in train inflates eval; this is decontamination's
    sibling for the pipeline's OWN split rather than an external
    probe set).

    Same shape as incremental_dedup's new-vs-canon probe: band keys
    computed once, candidates restricted to (non-train × train) band
    collisions — no train×train or eval×eval work — then the exact
    Jaccard verify. Output: one row per leaking pair
    (eval_id, eval_split, train_id, jaccard).
    """
    from mito_spark.operators.sampling import hash_split

    docs = spread(load_table(spark, sf_dir, "documents"))
    sigd = staged_shingles(docs, shingle).select(
        "doc_id", "sh", _salted_minhash(F.col("sh"), NUM_HASHES).alias("sig")
    ).localCheckpoint()
    # split is a pure hash of doc_id — computed as a COLUMN on the
    # band rows, never a join (zero extra shuffle; the same
    # zero-shuffle rationale hash_split documents in sampling.py)
    bands = _band_keys(sigd).withColumn(
        "split",
        hash_split(F.col("doc_id"), {"train": 0.9, "val": 0.05, "test": 0.05}),
    )
    eval_bands = bands.where(F.col("split") != "train")
    train_bands = bands.where(F.col("split") == "train")
    cand = (
        eval_bands.alias("e")
        .join(train_bands.alias("t"), ["band", "key"])
        .select(
            F.col("e.doc_id").alias("eval_id"),
            F.col("e.split").alias("eval_split"),
            F.col("t.doc_id").alias("train_id"),
        )
        .distinct()
    )
    sh_only = sigd.select("doc_id", "sh")
    return _jaccard_verified(cand, sh_only, "eval_id", "train_id", threshold).select(
        "eval_id", "eval_split", "train_id", F.round("jaccard", 6).alias("jaccard")
    )


def _split_leakage_sql(threshold: float = 0.5, shingle: int = 3) -> str:
    base = _minhash_sql(threshold, shingle)
    assert "), cand AS (" in base  # splice point; fail at import, not gate time
    head, _, _ = base.partition("), cand AS (")
    return rf"""{head}), splits AS (
  SELECT doc_id,
         CASE WHEN CAST('0x' || substr(md5('split:v1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   / 1152921504606846976.0 < 0.9 THEN 'train'
              WHEN CAST('0x' || substr(md5('split:v1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   / 1152921504606846976.0 < 0.95 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), cand AS (
  SELECT e.doc_id AS eval_id, se.split AS eval_split, t.doc_id AS train_id
  FROM keyed e JOIN splits se ON e.doc_id = se.doc_id
       JOIN keyed t ON e.band = t.band AND e.key = t.key
       JOIN splits st ON t.doc_id = st.doc_id
  WHERE se.split <> 'train' AND st.split = 'train'
  GROUP BY 1, 2, 3
)
SELECT eval_id, eval_split, train_id,
       ROUND(CAST(len(list_intersect(te.sh, tt.sh)) AS DOUBLE)
         / (len(te.sh) + len(tt.sh) - len(list_intersect(te.sh, tt.sh))), 6) AS jaccard
FROM cand JOIN tok te ON cand.eval_id = te.doc_id
          JOIN tok tt ON cand.train_id = tt.doc_id
WHERE CAST(len(list_intersect(te.sh, tt.sh)) AS DOUBLE)
         / (len(te.sh) + len(tt.sh) - len(list_intersect(te.sh, tt.sh))) >= {threshold}
"""


SPLIT_LEAKAGE_SQL = _split_leakage_sql()


def lsh_recall_report(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5, shingle: int = 3
) -> DataFrame:
    """MEASURED recall of the MinHash-LSH tier against exact ground
    truth at the same threshold — the banding math (1-(1-j^r)^b) is a
    model; this op checks it against the corpus. Ground truth comes
    from the prefix-filter join (recall 1.0 by construction); both
    tiers verify exact Jaccard, so LSH pairs ⊆ exact pairs and the
    single number that matters is recall = |LSH| / |exact|.

    Output: one row (threshold, n_exact_pairs, n_lsh_pairs, recall).
    The report a dedup rollout puts beside its config change.

    The corpus is scanned and shingled ONCE — the checkpointed
    (doc_id, sh) frame feeds both the exact leg and the LSH leg
    (VERDICT r5 wrong#3: each leg used to re-derive it, doubling the
    dominant scan+tokenize cost).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    shd = staged_shingles(docs, shingle).localCheckpoint()
    exact = jaccard_prefix_join(
        spark, sf_dir, threshold=threshold, shingle=shingle, shingles=shd
    )
    lsh = minhash_lsh_dedup(
        spark, sf_dir, threshold=threshold, shingle=shingle, shingles=shd
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh_pairs"))
    return (
        n_exact.crossJoin(n_lsh)  # 1x1
        .select(
            F.lit(threshold).alias("threshold"),
            "n_exact_pairs",
            "n_lsh_pairs",
            F.round(
                F.try_divide(
                    F.col("n_lsh_pairs").cast("double"),
                    F.col("n_exact_pairs").cast("double"),
                ),
                6,
            ).alias("recall"),
        )
    )


def _lsh_recall_sql(threshold: float = 0.5, shingle: int = 3) -> str:
    return f"""
WITH exact_pairs AS ({_jaccard_exact_sql(threshold, shingle)}),
lsh_pairs AS ({_minhash_sql(threshold, shingle)})
SELECT CAST({threshold} AS DOUBLE) AS threshold,
       (SELECT COUNT(*) FROM exact_pairs) AS n_exact_pairs,
       (SELECT COUNT(*) FROM lsh_pairs) AS n_lsh_pairs,
       CASE WHEN (SELECT COUNT(*) FROM exact_pairs) = 0 THEN NULL
            ELSE ROUND(CAST((SELECT COUNT(*) FROM lsh_pairs) AS DOUBLE)
                       / (SELECT COUNT(*) FROM exact_pairs), 6) END AS recall
"""


LSH_RECALL_SQL = _lsh_recall_sql()


def minhash_estimate_report(
    spark: SparkSession, sf_dir: str, shingle: int = 3
) -> DataFrame:
    """MEASURED MinHash estimator error: for every LSH candidate pair,
    the signature estimate (matching slots / K) beside the exact
    shingle-set Jaccard, rolled up by exact-Jaccard decile — per
    bucket the pair count, mean estimate, mean exact, and mean |err|.
    This is the calibration report behind every MinHash threshold
    decision (Broder 1997: each slot matches with probability exactly
    J, so the estimate is Binomial(K, J)/K with sd √(J(1−J)/K) ≈ 0.12
    at K=16 — the measurement shows what that means for THIS corpus's
    candidate population). The estimator-quality sibling of
    lsh_recall_report (which measures the BANDING's recall; this
    measures the SIGNATURE's accuracy) and ann_pq_recall_report.

    Scale shape: identical to minhash_lsh_dedup through the candidate
    stage (one tokenize+signature pass, checkpointed; banded self-join
    — never all-pairs); per candidate one K-slot compare + one exact
    intersect (the same work the verify stage already does), then a
    ≤11-row decile rollup on 9dp-decimal sums. Signatures are salted
    md5 — deterministic, so the whole measurement is hash-oracled.

    Provenance note: this report's FIRST run caught a real scale bug —
    under the then-current affine-rehash signatures it measured
    mean_est = 1.0 on candidate pairs with exact J = 0.01 (80% of the
    gate corpus's candidates), exposing the order-preserving
    correlation that `_salted_minhash`'s comment documents. After the
    independent-salt fix the same report reads as the Binomial theory
    predicts (mean_est ≈ mean_exact, |err| ≈ √(J(1−J)/K)). That is
    the point of the measured-quality ladder: run the calibration,
    don't trust the construction.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    shingles = staged_shingles(docs, shingle)
    sigd = shingles.select(
        "doc_id", "sh", _salted_minhash(F.col("sh"), NUM_HASHES).alias("sig")
    ).localCheckpoint()  # feeds both band-join sides AND the pair compare
    bands = _band_keys(sigd)
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    sided = cand.join(
        sigd.select(
            F.col("doc_id").alias("id_a"),
            F.col("sig").alias("sig_a"),
            F.col("sh").alias("sh_a"),
        ),
        "id_a",
    ).join(
        sigd.select(
            F.col("doc_id").alias("id_b"),
            F.col("sig").alias("sig_b"),
            F.col("sh").alias("sh_b"),
        ),
        "id_b",
    )
    eq_slots = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    ni = F.size(F.array_intersect("sh_a", "sh_b"))
    scored = sided.select(
        (eq_slots.cast("double") / F.lit(float(NUM_HASHES))).alias("est"),
        (ni.cast("double") / (F.size("sh_a") + F.size("sh_b") - ni)).alias("jaccard"),
    )
    bucketed = scored.select(
        (F.floor(F.col("jaccard") * 10).cast("double") / F.lit(10.0)).alias(
            "jaccard_bucket"
        ),
        F.round("est", 9).cast("decimal(28,9)").alias("e"),
        F.round("jaccard", 9).cast("decimal(28,9)").alias("j"),
        F.round(F.abs(F.col("est") - F.col("jaccard")), 9)
        .cast("decimal(28,9)")
        .alias("d"),
    )
    n = F.col("n_pairs")
    return (
        bucketed.groupBy("jaccard_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("e").alias("es"),
            F.sum("j").alias("js"),
            F.sum("d").alias("ds"),
        )
        .select(
            "jaccard_bucket",
            "n_pairs",
            F.round(F.col("es").cast("double") / n, 6).alias("mean_est"),
            F.round(F.col("js").cast("double") / n, 6).alias("mean_exact"),
            F.round(F.col("ds").cast("double") / n, 6).alias("mean_abs_err"),
        )
        .orderBy("jaccard_bucket")
    )


def _minhash_estimate_sql(shingle: int = 3) -> str:
    return (
        _minhash_cand_sql(shingle)
        + rf""", est AS (
  SELECT CAST(len(list_filter(range(1, {NUM_HASHES} + 1),
                              i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {float(NUM_HASHES)} AS est,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
  FROM cand JOIN sig sa ON cand.id_a = sa.doc_id
            JOIN sig sb ON cand.id_b = sb.doc_id
), bk AS (
  SELECT CAST(floor(jaccard * 10) AS DOUBLE) / 10.0 AS jaccard_bucket,
         CAST(ROUND(est, 9) AS DECIMAL(28,9)) AS e,
         CAST(ROUND(jaccard, 9) AS DECIMAL(28,9)) AS j,
         CAST(ROUND(abs(est - jaccard), 9) AS DECIMAL(28,9)) AS d
  FROM est
)
SELECT jaccard_bucket, COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(e) AS DOUBLE) / COUNT(*), 6) AS mean_est,
       ROUND(CAST(SUM(j) AS DOUBLE) / COUNT(*), 6) AS mean_exact,
       ROUND(CAST(SUM(d) AS DOUBLE) / COUNT(*), 6) AS mean_abs_err
FROM bk GROUP BY jaccard_bucket ORDER BY jaccard_bucket
"""
    )


MINHASH_ESTIMATE_SQL = _minhash_estimate_sql()


# --- one-permutation hashing (OPH) signature tier ------------------------

OPH_OFFSET = 1 << 44  # densification borrow-distance offset (values are
# 60-bit; raw + 15*2^44 fits int64 and distance-tags borrowed slots)


def _oph_signature(sh: Column, num_hashes: int = NUM_HASHES) -> tuple[Column, Column, Column]:
    """One-Permutation-Hashing MinHash (Li/Owen/Zhang NIPS'12): ONE
    salted 60-bit md5 per shingle; the hash space is split into K bins
    by h mod K and each bin keeps its minimum. Empty bins densify by
    borrowing the nearest non-empty bin to the RIGHT, cyclically, with
    a distance offset t*OPH_OFFSET (rotation densification,
    Shrivastava & Li ICML'14 — deterministic, so hash-oracled; the
    2017 'optimal densification' variant randomizes the direction for
    lower variance and is the production refinement this report's
    measurement would justify). Returns (raw, sig) as staged-column
    EXPRESSIONS (raw, t, sig) — callers must materialize ``raw`` and
    then ``t`` in separate selects before referencing them downstream
    (the HOF-staging rule: CollapseProject otherwise re-inlines the
    K-pass min per consumer)."""
    lit = F.lit("oph")
    hs = F.transform(sh, lambda s: hash60(s, lit))
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda j: F.array_min(F.filter(hs, lambda h: F.pmod(h, F.lit(num_hashes)) == j)),
    )
    # borrow distance per slot: t = first d >= 0 with raw[(j+d)%K]
    # non-null (t = 0 for occupied slots, so ONE formula covers both)
    tcol = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda j: F.get(
            F.filter(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda d: F.get(
                    F.col("raw"), F.pmod(j + d, F.lit(num_hashes))
                ).isNotNull(),
            ),
            0,
        ),
    )
    sig = F.zip_with(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        F.col("t"),
        lambda j, t: F.get(F.col("raw"), F.pmod(j + t, F.lit(num_hashes)))
        + t.cast("bigint") * F.lit(OPH_OFFSET),
    )
    return raw, tcol, sig


def minhash_oph_report(
    spark: SparkSession, sf_dir: str, shingle: int = 3
) -> DataFrame:
    """MEASURED One-Permutation-Hashing accuracy vs the K-salt MinHash
    — the report that prices the 100 TB signature question: the K-salt
    scheme pays K md5 calls PER SHINGLE (the honest price of K-wise
    independence, and the dominant CPU of the signature pass at
    corpus scale), while OPH pays ONE md5 per shingle and splits the
    hash space into K bins (Li/Owen/Zhang NIPS'12) — a ~K× reduction
    of the scan-stage hash work — at the cost of empty-bin
    densification variance on sparse sets (Shrivastava & Li ICML'14).
    Per exact-Jaccard decile of the SAME LSH candidate population as
    ``minhash_estimate_report``: pair count, mean exact Jaccard, and
    mean estimate + mean |err| for BOTH estimators side by side. The
    decision table for switching the signature tier at scale: if
    mean_abs_err_oph tracks mean_abs_err_kwise on THIS corpus's
    candidate distribution, the K× hash saving is free (gate corpus:
    docs carry ~hundreds of shingles >> K=16 bins, so densification
    rarely fires and the two columns should agree; a short-doc corpus
    would show OPH's variance penalty — that is what the report is
    FOR). The measure-don't-trust ladder's signature-cost rung.

    Measured gate-corpus surprise worth knowing: on the low-J decile
    the K-SALT estimator reads HIGH (mean_est 0.139 on exact 0.012)
    while OPH reads 0.014 — because LSH candidates are selected BY
    collisions in the k-wise signature's own slots (the banding keys
    are built from them), a selection bias the estimate inherits; OPH
    slots are independent of the banding keys, so on the candidate
    population the cheaper estimator is also the less biased one.

    Scale shape: one tokenize+shingle pass feeds both signature
    builders (the k-wise one also keys the banding, so candidates are
    identical to the production chain); OPH adds one md5 pass + K
    filter/min passes (comparisons, not hashes) + an O(K²) in-row
    densification scan; per candidate two K-slot compares + one exact
    intersect; the rollup is a ≤11-row decile table on 9dp-decimal
    sums. Everything JVM-side; signatures are deterministic salted
    md5, so the whole measurement is hash-oracled.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    shingles = staged_shingles(docs, shingle)
    raw_e, t_e, sig_e = _oph_signature(F.col("sh"), NUM_HASHES)
    sigd = (
        shingles.select(
            "doc_id",
            "sh",
            _salted_minhash(F.col("sh"), NUM_HASHES).alias("sig"),
            raw_e.alias("raw"),
        )
        .select("doc_id", "sh", "sig", "raw", t_e.alias("t"))
        .select("doc_id", "sh", "sig", sig_e.alias("oph"))
        .localCheckpoint()  # feeds both band-join sides AND the compares
    )
    cand = _lsh_candidates(sigd)
    sided = cand.join(
        sigd.select(
            F.col("doc_id").alias("id_a"),
            F.col("sig").alias("sig_a"),
            F.col("oph").alias("oph_a"),
            F.col("sh").alias("sh_a"),
        ),
        "id_a",
    ).join(
        sigd.select(
            F.col("doc_id").alias("id_b"),
            F.col("sig").alias("sig_b"),
            F.col("oph").alias("oph_b"),
            F.col("sh").alias("sh_b"),
        ),
        "id_b",
    )

    def frac_eq(a: str, b: str) -> Column:
        return (
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.lit(float(NUM_HASHES))
        )

    ni = F.size(F.array_intersect("sh_a", "sh_b"))
    scored = sided.select(
        frac_eq("sig_a", "sig_b").alias("est_k"),
        frac_eq("oph_a", "oph_b").alias("est_o"),
        (ni.cast("double") / (F.size("sh_a") + F.size("sh_b") - ni)).alias("jaccard"),
    )

    def dec(c: Column) -> Column:
        return F.round(c, 9).cast("decimal(28,9)")

    bucketed = scored.select(
        (F.floor(F.col("jaccard") * 10).cast("double") / F.lit(10.0)).alias(
            "jaccard_bucket"
        ),
        dec(F.col("jaccard")).alias("j"),
        dec(F.col("est_k")).alias("ek"),
        dec(F.abs(F.col("est_k") - F.col("jaccard"))).alias("dk"),
        dec(F.col("est_o")).alias("eo"),
        dec(F.abs(F.col("est_o") - F.col("jaccard"))).alias("ov"),
    )
    n = F.col("n_pairs")
    return (
        bucketed.groupBy("jaccard_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("j").alias("js"),
            F.sum("ek").alias("eks"),
            F.sum("dk").alias("dks"),
            F.sum("eo").alias("eos"),
            F.sum("ov").alias("dos"),
        )
        .select(
            "jaccard_bucket",
            "n_pairs",
            F.round(F.col("js").cast("double") / n, 6).alias("mean_exact"),
            F.round(F.col("eks").cast("double") / n, 6).alias("mean_est_kwise"),
            F.round(F.col("dks").cast("double") / n, 6).alias("mean_abs_err_kwise"),
            F.round(F.col("eos").cast("double") / n, 6).alias("mean_est_oph"),
            F.round(F.col("dos").cast("double") / n, 6).alias("mean_abs_err_oph"),
        )
        .orderBy("jaccard_bucket")
    )


def _oph_sql(shingle: int = 3) -> str:
    k = NUM_HASHES
    h60 = "CAST('0x' || substr(md5('oph:' || s), 1, 15) AS BIGINT)"
    return (
        _minhash_cand_sql(shingle)
        + rf""", ophh AS (
  SELECT doc_id, list_transform(sh, s -> {h60}) AS hs FROM tok
), ophraw AS (
  SELECT doc_id,
         list_transform(range(0, {k}), j ->
           list_min(list_filter(hs, h -> h % {k} = j))) AS raw
  FROM ophh
), opht AS (
  SELECT doc_id, raw,
         list_transform(range(0, {k}), j ->
           list_min(list_filter(range(0, {k}), d -> raw[((j + d) % {k}) + 1] IS NOT NULL))) AS t
  FROM ophraw
), ophsig AS (
  SELECT doc_id,
         list_transform(range(0, {k}), j ->
           raw[((j + t[j + 1]) % {k}) + 1] + t[j + 1] * {OPH_OFFSET}) AS oph
  FROM opht
), est AS (
  SELECT CAST(len(list_filter(range(1, {k} + 1),
                              i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {float(k)} AS est_k,
         CAST(len(list_filter(range(1, {k} + 1),
                              i -> oa.oph[i] = ob.oph[i])) AS DOUBLE) / {float(k)} AS est_o,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
  FROM cand JOIN sig sa ON cand.id_a = sa.doc_id
            JOIN sig sb ON cand.id_b = sb.doc_id
            JOIN ophsig oa ON cand.id_a = oa.doc_id
            JOIN ophsig ob ON cand.id_b = ob.doc_id
), bk AS (
  SELECT CAST(floor(jaccard * 10) AS DOUBLE) / 10.0 AS jaccard_bucket,
         CAST(ROUND(jaccard, 9) AS DECIMAL(28,9)) AS j,
         CAST(ROUND(est_k, 9) AS DECIMAL(28,9)) AS ek,
         CAST(ROUND(abs(est_k - jaccard), 9) AS DECIMAL(28,9)) AS dk,
         CAST(ROUND(est_o, 9) AS DECIMAL(28,9)) AS eo,
         CAST(ROUND(abs(est_o - jaccard), 9) AS DECIMAL(28,9)) AS ov
  FROM est
)
SELECT jaccard_bucket, COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(j) AS DOUBLE) / COUNT(*), 6) AS mean_exact,
       ROUND(CAST(SUM(ek) AS DOUBLE) / COUNT(*), 6) AS mean_est_kwise,
       ROUND(CAST(SUM(dk) AS DOUBLE) / COUNT(*), 6) AS mean_abs_err_kwise,
       ROUND(CAST(SUM(eo) AS DOUBLE) / COUNT(*), 6) AS mean_est_oph,
       ROUND(CAST(SUM(ov) AS DOUBLE) / COUNT(*), 6) AS mean_abs_err_oph
FROM bk GROUP BY jaccard_bucket ORDER BY jaccard_bucket
"""
    )


MINHASH_OPH_SQL = _oph_sql()


def dedup_attribution_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint attribution across the three dedup tiers — exact content
    hash, MinHash+LSH verified near-dup (J >= 0.5), and SimHash
    banded Hamming (<= 3 bits) — as the full 2x2x2 verdict table: one
    row per (exact_dup, minhash_dup, simhash_dup) combination with
    document count, token mass, and corpus shares. A document is a
    "dup" under a tier if that tier's keep-first rule would drop it
    (exact: not the minimum doc_id of its content-hash group; pair
    tiers: appears as the higher id of any verified pair). The dedup
    sibling of filter_attribution_report: the marginal cells say what
    each tier uniquely catches (exact ⊂ minhash in theory — J = 1
    pairs always collide; the table PROVES it on data), and any_dup
    is the total dedup bite before quality filtering.

    Pure composition of three already-oracled chains joined on doc_id
    (one-key co-partitioned shuffles), one 8-row rollup; shares are
    exact-integer quotients against broadcast 1-row totals.
    """
    from pyspark.sql import Window

    from mito_spark.operators.text import token_count

    docs = spread(load_table(spark, sf_dir, "documents"))
    ex = docs.select(
        "doc_id",
        (
            F.col("doc_id")
            != F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        ).alias("exact_dup"),
    )
    mh = (
        minhash_lsh_dedup(spark, sf_dir)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("minhash_dup", F.lit(True))
    )
    sh = (
        simhash_dedup(spark, sf_dir)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("simhash_dup", F.lit(True))
    )
    toks = token_count(spark, sf_dir).select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens")
    )
    joined = (
        toks.join(ex, "doc_id")
        .join(mh, "doc_id", "left")
        .join(sh, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "exact_dup",
            F.coalesce("minhash_dup", F.lit(False)).alias("minhash_dup"),
            F.coalesce("simhash_dup", F.lit(False)).alias("simhash_dup"),
        )
    )
    totals = joined.agg(
        F.count(F.lit(1)).alias("tot_docs"), F.sum("n_tokens").alias("tot_tokens")
    )
    return (
        joined.groupBy("exact_dup", "minhash_dup", "simhash_dup")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
        .crossJoin(F.broadcast(totals))
        .select(
            "exact_dup",
            "minhash_dup",
            "simhash_dup",
            (F.col("exact_dup") | F.col("minhash_dup") | F.col("simhash_dup")).alias(
                "any_dup"
            ),
            "n_docs",
            "n_tokens",
            F.round(
                F.col("n_docs").cast("double") / F.col("tot_docs").cast("double"), 6
            ).alias("doc_share"),
            F.round(
                F.col("n_tokens").cast("double") / F.col("tot_tokens").cast("double"),
                6,
            ).alias("token_share"),
        )
        .orderBy("exact_dup", "minhash_dup", "simhash_dup")
    )


def _dedup_attribution_sql() -> str:
    from mito_spark.operators.text import TOKEN_COUNT_SQL

    return f"""
WITH ex AS (
  SELECT doc_id,
         doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_dup
  FROM documents
), mh AS (
  SELECT DISTINCT id_b AS doc_id FROM ({MINHASH_LSH_SQL})
), sh AS (
  SELECT DISTINCT id_b AS doc_id FROM ({SIMHASH_SQL})
), tc AS ({TOKEN_COUNT_SQL}
), joined AS (
  SELECT tc.doc_id, CAST(tc.n_tokens AS BIGINT) AS n_tokens,
         ex.exact_dup,
         mh.doc_id IS NOT NULL AS minhash_dup,
         sh.doc_id IS NOT NULL AS simhash_dup
  FROM tc JOIN ex ON tc.doc_id = ex.doc_id
          LEFT JOIN mh ON tc.doc_id = mh.doc_id
          LEFT JOIN sh ON tc.doc_id = sh.doc_id
), totals AS (
  SELECT COUNT(*) AS tot_docs, CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
  FROM joined
)
SELECT exact_dup, minhash_dup, simhash_dup,
       (exact_dup OR minhash_dup OR simhash_dup) AS any_dup,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(CAST(COUNT(*) AS DOUBLE) / tot_docs, 6) AS doc_share,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / tot_tokens, 6) AS token_share
FROM joined CROSS JOIN totals
GROUP BY exact_dup, minhash_dup, simhash_dup, tot_docs, tot_tokens
ORDER BY exact_dup, minhash_dup, simhash_dup
"""


DEDUP_ATTRIBUTION_SQL = _dedup_attribution_sql()


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix: every verified MinHash
    near-dup pair (J >= 0.5) attributed to its (source_a, source_b)
    cell — pair count, mean Jaccard, and the share of the smaller
    source's documents involved. This is how a curation team finds
    that source X mirrors source Y (news syndication, crawl-of-a-crawl,
    wiki forks) BEFORE setting per-source sampling weights: a high
    involved-share off-diagonal cell means the two sources are not
    independent evidence, and domain_mix-style weights computed from
    raw sizes double-count them.

    Cell key is the UNORDERED source pair (least/greatest), so mirror
    pairs land in one cell. Composition: the audited LSH chain + one
    broadcast-sized doc→source join (sources are a tiny dimension) +
    a sources²-bounded rollup; per-source doc totals join back as a
    broadcast. Decimal-exact mean Jaccard.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    src = docs.select("doc_id", "source")
    per_source = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    pairs = minhash_lsh_dedup(spark, sf_dir)
    attributed = (
        pairs.join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")),
            "id_a",
        )
        .join(
            src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            F.round("jaccard", 9).cast("decimal(28,9)").alias("j"),
        )
    )
    cells = attributed.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("j").alias("js")
    )
    return (
        cells.join(
            F.broadcast(per_source.select(F.col("source").alias("source_a"), F.col("n_docs").alias("na"))),
            "source_a",
        )
        .join(
            F.broadcast(per_source.select(F.col("source").alias("source_b"), F.col("n_docs").alias("nb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            F.round(F.col("js").cast("double") / F.col("n_pairs"), 6).alias("mean_jaccard"),
            F.round(
                F.col("n_pairs").cast("double") / F.least("na", "nb").cast("double"), 6
            ).alias("smaller_source_share"),
        )
        .orderBy("source_a", "source_b")
    )


def _source_overlap_sql() -> str:
    return f"""
WITH pairs AS ({MINHASH_LSH_SQL}
), src AS (
  SELECT doc_id, source FROM documents
), per_source AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), attributed AS (
  SELECT least(a.source, b.source) AS source_a,
         greatest(a.source, b.source) AS source_b,
         CAST(ROUND(p.jaccard, 9) AS DECIMAL(28,9)) AS j
  FROM pairs p JOIN src a ON p.id_a = a.doc_id
               JOIN src b ON p.id_b = b.doc_id
), cells AS (
  SELECT source_a, source_b, COUNT(*) AS n_pairs, SUM(j) AS js
  FROM attributed GROUP BY source_a, source_b
)
SELECT c.source_a, c.source_b, c.n_pairs,
       ROUND(CAST(c.js AS DOUBLE) / c.n_pairs, 6) AS mean_jaccard,
       ROUND(CAST(c.n_pairs AS DOUBLE) / least(pa.n_docs, pb.n_docs), 6) AS smaller_source_share
FROM cells c JOIN per_source pa ON c.source_a = pa.source
             JOIN per_source pb ON c.source_b = pb.source
ORDER BY c.source_a, c.source_b
"""


SOURCE_OVERLAP_SQL = _source_overlap_sql()


# --- CCNet-style paragraph-hash dedup -------------------------------

PARA_CHUNK_TOKENS = 16


def dedup_paragraphs(
    spark: SparkSession, sf_dir: str, chunk_tokens: int = PARA_CHUNK_TOKENS
) -> DataFrame:
    """Paragraph-hash dedup — the CCNet/RefinedWeb FIRST dedup stage
    (Wenzek et al. 2020 run it before any document-level near-dup):
    hash every paragraph, keep only the FIRST occurrence of each hash
    corpus-wide, and report per document how much of it survived. The
    per-doc retained fraction is the editing manifest (which docs are
    mostly boilerplate already seen elsewhere) and the keep flag is
    the CCNet drop rule (a doc losing more than half its paragraphs
    is itself a duplicate shell).

    Paragraph boundary: the synthetic corpus has no newline structure,
    so the ingest unit is the ALIGNED NON-OVERLAPPING
    ``chunk_tokens``-token window; ``dedup_paragraphs_newline`` is the
    real-boundary form (split(text, '\\n\\n'), one projection in front
    of the SAME ``_para_rollup`` plan — pytest-pinned on a
    newline-structured fixture, r9 VERDICT). First occurrence is position-ordered:
    (doc_id, chunk_idx) ascending — deterministic on any partitioning,
    the same keep-first convention every dedup tier here uses.

    Scale shape: chunking is a shuffle-free scan projection (sequence
    + slice + explode, all JVM); the only shuffle is the
    first-occurrence rank keyed by the 128-bit chunk hash — key count
    ≈ corpus chunk count, so the per-key rank never collapses (the
    per-node kNN rank argument); the per-doc rollup is doc-keyed.
    Hashes are md5 (engine-portable). Zero-chunk docs (empty text)
    keep a row: 0 chunks, NULL fraction, keep = true.

    Output: (doc_id, n_chunks, n_dup_chunks, dup_fraction, keep),
    keep ⇔ 2·n_dup <= n_chunks (integer compare — no float boundary).
    """
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    return _para_rollup(
        docs.select("doc_id"), _token_window_chunks(docs, chunk_tokens)
    )


def _token_window_chunks(docs: DataFrame, chunk_tokens: int) -> DataFrame:
    """(doc_id, chunk_idx, h) aligned token-window chunk hashes — the
    ingest unit shared by ``dedup_paragraphs`` and its streaming twin
    (``streaming/stateful.streaming_paragraph_dedup``)."""
    toks = docs.select("doc_id", fields(F.lower(F.col("text"))).alias("toks"))
    n_chunk_expr = F.ceil(F.size("toks") / F.lit(chunk_tokens)).cast("int")
    return (
        toks.select(
            "doc_id",
            F.when(
                F.size("toks") > 0,
                F.transform(
                    F.sequence(F.lit(0), n_chunk_expr - 1),
                    lambda i: F.struct(
                        i.alias("chunk_idx"),
                        F.md5(
                            F.array_join(
                                F.slice(F.col("toks"), i * chunk_tokens + 1, chunk_tokens),
                                " ",
                            )
                        ).alias("h"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<chunk_idx:int,h:string>>")).alias("cs"),
        )
        # checkpoint the chunk arrays before exploding — Generate
        # re-evaluates an interpreted-HOF generator input per emitted
        # row (the winnow_dup_pairs lesson)
        .localCheckpoint()
        .select("doc_id", F.explode("cs").alias("c"))
        .select("doc_id", F.col("c.chunk_idx").alias("chunk_idx"), F.col("c.h").alias("h"))
    )


def _para_rollup(doc_ids: DataFrame, chunks: DataFrame) -> DataFrame:
    """Boundary-agnostic half of the paragraph dedup: first-occurrence
    rank per chunk hash + per-doc retained-fraction rollup, over any
    (doc_id, chunk_idx, h) frame."""
    from pyspark.sql import Window

    ranked = chunks.withColumn(
        "rn",
        F.row_number().over(
            # key count = distinct chunk hashes ≈ corpus chunks: no
            # single-partition collapse (same argument as per-node kNN)
            Window.partitionBy("h").orderBy(F.asc("doc_id"), F.asc("chunk_idx"))
        ),
    )
    per_doc = ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
    )
    return (
        doc_ids.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).alias("n_dup_chunks"),
            F.when(
                F.col("n_chunks") > 0,
                F.round(
                    F.col("n_dup_chunks").cast("double") / F.col("n_chunks").cast("double"),
                    6,
                ),
            ).alias("dup_fraction"),
            (
                F.coalesce("n_dup_chunks", F.lit(0)) * 2
                <= F.coalesce("n_chunks", F.lit(0))
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


def dedup_paragraphs_newline(docs: DataFrame) -> DataFrame:
    """The production boundary form of ``dedup_paragraphs``: the
    ingest unit is the REAL paragraph — text split on blank lines
    ('\\n\\n'), each paragraph trimmed, empty/whitespace-only
    paragraphs dropped (CCNet's unit) — one projection swapped in
    front of the SAME ``_para_rollup`` plan. Tested on a
    newline-structured fixture (the synthetic gate corpus has no
    newlines, so the registry entry uses the token-window chunker);
    same output contract: (doc_id, n_chunks, n_dup_chunks,
    dup_fraction, keep)."""
    paras = F.filter(
        F.transform(F.split(F.col("text"), "\n\n"), lambda p: F.trim(p)),
        lambda p: p != "",
    )
    chunks = (
        docs.select(
            "doc_id",
            F.transform(
                paras,
                lambda p, i: F.struct(
                    i.cast("int").alias("chunk_idx"), F.md5(p).alias("h")
                ),
            ).alias("cs"),
        )
        .localCheckpoint()  # the same Generate rule as the token form
        .select("doc_id", F.explode("cs").alias("c"))
        .select("doc_id", F.col("c.chunk_idx").alias("chunk_idx"), F.col("c.h").alias("h"))
    )
    return _para_rollup(docs.select("doc_id"), chunks)


def _dedup_paragraphs_sql(chunk_tokens: int = PARA_CHUNK_TOKENS) -> str:
    return rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), chunks AS (
  SELECT doc_id, i AS chunk_idx,
         md5(array_to_string(toks[i * {chunk_tokens} + 1 : (i + 1) * {chunk_tokens}], ' ')) AS h
  FROM (
    SELECT doc_id, toks,
           unnest(range(0, CAST(ceil(CAST(len(toks) AS DOUBLE) / {chunk_tokens}) AS INT))) AS i
    FROM t WHERE len(toks) > 0
  )
), ranked AS (
  SELECT doc_id, chunk_idx,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
  FROM chunks
), per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(COUNT(*) FILTER (rn > 1) AS BIGINT) AS n_dup_chunks
  FROM ranked GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_chunks, 0) AS n_chunks,
       COALESCE(p.n_dup_chunks, 0) AS n_dup_chunks,
       CASE WHEN p.n_chunks > 0
            THEN ROUND(CAST(p.n_dup_chunks AS DOUBLE) / p.n_chunks, 6) END AS dup_fraction,
       COALESCE(p.n_dup_chunks, 0) * 2 <= COALESCE(p.n_chunks, 0) AS keep
FROM (SELECT doc_id FROM documents) d
LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


DEDUP_PARAGRAPHS_SQL = _dedup_paragraphs_sql()


# --- n-gram novelty decay -------------------------------------------

def ngram_novelty_report(
    spark: SparkSession, sf_dir: str, shingle: int = 3
) -> DataFrame:
    """N-gram novelty decay over arrival order — the crawl-exhaustion
    curve a data-acquisition team watches: per document, the fraction
    of its (hashed) distinct ``shingle``-grams whose FIRST corpus
    occurrence is that document, rolled up over ten arrival deciles
    (doc_id stands in for crawl order, the convention
    incremental_dedup/ann_index_refresh already use). A healthy fresh
    crawl holds novelty high across deciles; a curve collapsing toward
    0 says later batches re-crawl what earlier ones found (Lee et al.
    2022's motivation measured as a trend, not a single number).

    Keys are the shared 60-bit md5 shingle hashes (``hash60`` — 8 B
    shuffle keys; a collision merges two n-grams identically on both
    engines, the documented trade every hashed tier here makes).
    First-occurrence is min(doc_id) per hash — deterministic on any
    partitioning. Deciles are VALUE-range buckets over doc_id
    (integer arithmetic: doc_id·10 div (max_id+1)) — no global rank
    window, no collapse; the max_id rides in as a broadcast 1-row
    frame. Per-doc ratios round to 9dp and sum as DECIMAL(28,9)
    before the decile mean (house float discipline).

    Scale shape: one shingle scan; ONE corpus-sized shuffle — the
    hash-keyed first-occurrence groupBy, whose doc-keyed recount
    (n_new per doc) and the scan-side per-doc denominators (array
    sizes, NO shuffle) meet in a doc-keyed join. No shingle-sized
    join-back (the r9 first cut had one: 5.4 → ~2 s at sf0.1). A
    10-row output; nothing corpus-sized crosses the driver.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    sh = staged_shingles(docs, shingle)
    # checkpoint the shingle ARRAYS before exploding: Generate
    # re-evaluates an interpreted-HOF generator input once per emitted
    # row (the winnow_dup_pairs lesson — ~52 shingles/doc meant ~52×
    # re-tokenization; measured 4.9 → 1.9 s at sf0.1), then one
    # explode+md5 projection feeds both consumers
    ex = (
        sh.localCheckpoint()
        .select("doc_id", F.explode("sh").alias("s"))
        .select("doc_id", hash60(F.col("s")).alias("h"))
    )
    denom = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_ngrams"))
    new_counts = (
        ex.groupBy("h")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).alias("n_new"))
        .withColumnRenamed("first_doc", "doc_id")
    )
    per_doc = denom.join(new_counts, "doc_id", "left").select(
        "doc_id",
        "n_ngrams",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    max_id = docs.agg(F.max("doc_id").alias("max_id"))
    bucketed = (
        per_doc.crossJoin(F.broadcast(max_id))
        .withColumn("decile", F.expr("CAST(doc_id * 10 div (max_id + 1) AS INT)"))
        .withColumn(
            "nov",
            F.round(
                F.col("n_new").cast("double") / F.col("n_ngrams").cast("double"), 9
            ).cast("decimal(28,9)"),
        )
    )
    return (
        bucketed.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ngrams").alias("n_ngrams"),
            F.sum("n_new").alias("n_new_ngrams"),
            F.sum("nov").alias("novs"),
        )
        .select(
            "decile",
            "n_docs",
            "n_ngrams",
            "n_new_ngrams",
            F.round(F.col("novs").cast("double") / F.col("n_docs"), 6).alias(
                "mean_novelty"
            ),
            F.round(
                F.col("n_new_ngrams").cast("double") / F.col("n_ngrams").cast("double"),
                6,
            ).alias("new_fraction"),
        )
        .orderBy("decile")
    )


def _ngram_novelty_sql(shingle: int = 3) -> str:
    return rf"""
WITH rawtok AS (
  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), tok AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - {shingle - 1}, 1) + 1),
           i -> array_to_string(toks[i:i+{shingle - 1}], ' '))) AS sh
  FROM rawtok
), denom AS (
  SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_ngrams FROM tok
), ex AS (
  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(sh) AS s FROM tok)
), new_counts AS (
  SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
  FROM (SELECT h, MIN(doc_id) AS first_doc FROM ex GROUP BY h)
  GROUP BY first_doc
), per_doc AS (
  SELECT d.doc_id, d.n_ngrams, COALESCE(n.n_new, 0) AS n_new
  FROM denom d LEFT JOIN new_counts n USING (doc_id)
), mx AS (
  SELECT MAX(doc_id) AS max_id FROM documents
), bucketed AS (
  SELECT CAST((doc_id * 10) // (max_id + 1) AS INT) AS decile,
         n_ngrams, n_new,
         CAST(ROUND(CAST(n_new AS DOUBLE) / n_ngrams, 9) AS DECIMAL(28,9)) AS nov
  FROM per_doc CROSS JOIN mx
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_ngrams) AS BIGINT) AS n_ngrams,
       CAST(SUM(n_new) AS BIGINT) AS n_new_ngrams,
       ROUND(CAST(SUM(nov) AS DOUBLE) / COUNT(*), 6) AS mean_novelty,
       ROUND(CAST(SUM(n_new) AS DOUBLE) / SUM(n_ngrams), 6) AS new_fraction
FROM bucketed GROUP BY decile ORDER BY decile
"""


NGRAM_NOVELTY_SQL = _ngram_novelty_sql()


# --- SimHash estimator calibration ----------------------------------

_PI_LIT = 3.141592653589793


def simhash_estimate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED SimHash estimator calibration — the angle-estimate
    sibling of ``minhash_estimate_report`` (whose first run caught the
    r2-r8 affine-rehash pathology; run the calibration, don't trust
    the construction): for every deterministic chunk-collision
    candidate pair, compare the hyperplane-LSH cosine estimate
    cos(π·hamming/SIMHASH_BITS) (Charikar 2002: each signature bit
    disagrees with probability θ/π) against the EXACT cosine of the
    two documents' token-count vectors, rolled up per Hamming
    distance: (hamming, n_pairs, mean_est_cos, mean_exact_cos,
    mean_abs_err). A biased row says the 60-bit signature is too
    coarse (or the token hashing too collision-heavy) for the corpus
    the banding serves.

    Exactness/parity: the dot product and squared norms are exact
    INTEGER sums over (doc, token-hash) counts; cos rounds to 9dp and
    sums as DECIMAL(28,9); the estimator rounds to 9dp (absorbing the
    1-ulp libm cos spread, the kn_perplexity precedent); the error is
    the exact decimal |est9 − exact9|. Token keys are the shared
    60-bit md5 hashes; a collision merges tokens identically on both
    engines. Zero-token docs are excluded (cosine undefined).

    Scale shape: the candidate set is the banded search's own output
    (bounded by chunk collisions, never O(n²)); the dot join costs
    O(|pairs| · tokens/doc) on doc-keyed joins; the rollup is
    ≤ SIMHASH_BITS rows.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    sigd = docs.select(
        "doc_id", simhash_signature(F.col("text")).alias("sig")
    ).localCheckpoint()
    pairs = _simhash_chunk_pairs(sigd)
    tc = (
        docs.select("doc_id", F.explode(fields(F.lower(F.col("text")))).alias("t"))
        .select("doc_id", hash60(F.col("t")).alias("h"))
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # feeds the norm pass and both dot sides
    )
    norms = tc.groupBy("doc_id").agg(F.sum(F.col("c") * F.col("c")).alias("n2"))
    dots = (
        pairs.join(
            tc.select(F.col("doc_id").alias("id_a"), F.col("h").alias("ha"), F.col("c").alias("ca")),
            "id_a",
        )
        .join(
            tc.select(F.col("doc_id").alias("id_b"), F.col("h").alias("hb"), F.col("c").alias("cb")),
            "id_b",
        )
        # Catalyst folds this post-join equality into the join
        # condition (verified in-plan: the token hash rides the join
        # keys, so the per-pair blow-up never materializes)
        .where(F.col("ha") == F.col("hb"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    scored = (
        pairs.join(dots, ["id_a", "id_b"], "left")
        .join(norms.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("na2")), "id_a")
        .join(norms.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("nb2")), "id_b")
        .where((F.col("na2") > 0) & (F.col("nb2") > 0))
        .select(
            "hamming",
            F.round(
                F.cos(F.lit(_PI_LIT) * F.col("hamming").cast("double") / SIMHASH_BITS), 9
            ).cast("decimal(28,9)").alias("est9"),
            F.round(
                F.coalesce(F.col("dot"), F.lit(0)).cast("double")
                / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))),
                9,
            ).cast("decimal(28,9)").alias("ex9"),
        )
    )
    return (
        scored.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("est9").alias("ests"),
            F.sum("ex9").alias("exs"),
            F.sum(F.abs(F.col("est9") - F.col("ex9"))).alias("errs"),
        )
        .select(
            "hamming",
            "n_pairs",
            F.round(F.col("ests").cast("double") / F.col("n_pairs"), 6).alias("mean_est_cos"),
            F.round(F.col("exs").cast("double") / F.col("n_pairs"), 6).alias("mean_exact_cos"),
            F.round(F.col("errs").cast("double") / F.col("n_pairs"), 6).alias("mean_abs_err"),
        )
        .orderBy("hamming")
    )


def _simhash_estimate_sql() -> str:
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << chunk_bits) - 1
    # reuse the SIMHASH_SQL head (tok/th/sig CTEs), swap the bounded
    # all-pairs tail for the chunk-collision candidate generation the
    # Spark side uses
    head, sep, _tail = SIMHASH_SQL.partition(")\nSELECT a.doc_id AS id_a")
    assert sep  # splice point; fail at import, not gate time
    return rf"""{head}), chunks AS (
  SELECT doc_id, sig, c, (sig >> (c * {chunk_bits})) & {mask} AS v
  FROM sig CROSS JOIN (SELECT unnest(range(0, {SIMHASH_CHUNKS})) AS c)
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.sig, b.sig)) AS hamming
  FROM chunks a JOIN chunks b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
), tc AS (
  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
  GROUP BY 1, 2
), norms AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS n2 FROM tc GROUP BY doc_id
), dots AS (
  SELECT p.id_a, p.id_b, CAST(SUM(a.c * b.c) AS BIGINT) AS dot
  FROM cand p JOIN tc a ON a.doc_id = p.id_a
              JOIN tc b ON b.doc_id = p.id_b AND b.h = a.h
  GROUP BY 1, 2
), scored AS (
  SELECT p.hamming,
         CAST(ROUND(cos({_PI_LIT} * CAST(p.hamming AS DOUBLE) / {SIMHASH_BITS}), 9) AS DECIMAL(28,9)) AS est9,
         CAST(ROUND(CAST(COALESCE(d.dot, 0) AS DOUBLE)
              / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 9) AS DECIMAL(28,9)) AS ex9
  FROM cand p LEFT JOIN dots d ON p.id_a = d.id_a AND p.id_b = d.id_b
       JOIN norms na ON na.doc_id = p.id_a
       JOIN norms nb ON nb.doc_id = p.id_b
  WHERE na.n2 > 0 AND nb.n2 > 0
)
SELECT hamming,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(est9) AS DOUBLE) / COUNT(*), 6) AS mean_est_cos,
       ROUND(CAST(SUM(ex9) AS DOUBLE) / COUNT(*), 6) AS mean_exact_cos,
       ROUND(CAST(SUM(abs(est9 - ex9)) AS DOUBLE) / COUNT(*), 6) AS mean_abs_err
FROM scored GROUP BY hamming ORDER BY hamming
"""


SIMHASH_ESTIMATE_SQL = _simhash_estimate_sql()


# --- b-bit minwise hashing: storage-compression calibration ----------

# b values measured side-by-side; 64 = the full 60-bit slot (baseline)
_BBIT_VALUES = (1, 2, 4)


def bbit_minhash_report(
    spark: SparkSession, sf_dir: str, shingle: int = 3
) -> DataFrame:
    """MEASURED b-bit minwise estimator error (Li & Koenig, WWW'10
    "b-Bit Minwise Hashing"): keep only the lowest b bits of each
    MinHash slot and estimate Jaccard through the collision-corrected
    unbiased form J_b = (M_b - C_b) / (1 - C_b), where M_b is the
    matching-slot fraction and C_b = 2^-b is the accidental-collision
    baseline of a uniform b-bit value. Reported per exact-Jaccard
    decile x b in {1, 2, 4}: pair count, mean exact J, mean estimate,
    mean |err| — beside minhash_estimate_report's full-slot numbers
    (its C -> 0 limit).

    Why it earns its place at 100 TB: the signature TABLE is the
    thing a petabyte dedup pipeline persists and re-joins every
    ingest; b=1 stores 16 slots in 2 BYTES against 128 bytes of full
    64-bit slots — a 64x shrink of the stored index, the band shuffle,
    and the verify-stage probe side. The paper's price is variance
    (Var ~ [C + (1-C)J][1-...]/(K(1-C)^2), ~3x the full-slot sd at
    b=1, J=0.5), and THIS report measures that price on THIS corpus's
    candidate population instead of trusting the algebra — same
    discipline as minhash_estimate_report, whose first run caught the
    affine-rehash correlation the theory said could not happen.

    Scale shape: identical to minhash_lsh_dedup through the candidate
    stage (one tokenize+signature pass, checkpointed; banded
    self-join, never all-pairs); per candidate a K-slot masked compare
    per b (JVM bitwiseAND/zip_with) + the exact intersect the verify
    stage already pays; then a <= (11 x |b|)-row decile rollup on
    9dp-decimal sums. Salted-md5 slots make every estimate
    deterministic, so the whole measurement is hash-oracled.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    shingles = staged_shingles(docs, shingle)
    sigd = shingles.select(
        "doc_id", "sh", _salted_minhash(F.col("sh"), NUM_HASHES).alias("sig")
    ).localCheckpoint()  # one signature pass feeds band join + compare
    bands = _band_keys(sigd)
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    sided = cand.join(
        sigd.select(
            F.col("doc_id").alias("id_a"),
            F.col("sig").alias("sig_a"),
            F.col("sh").alias("sh_a"),
        ),
        "id_a",
    ).join(
        sigd.select(
            F.col("doc_id").alias("id_b"),
            F.col("sig").alias("sig_b"),
            F.col("sh").alias("sh_b"),
        ),
        "id_b",
    )
    ni = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = ni.cast("double") / (F.size("sh_a") + F.size("sh_b") - ni)
    def masked_eq(m: int):
        # closure factory: the zip_with lambda must take exactly TWO
        # parameters (a defaulted third would bind as an extra HOF arg)
        return lambda x, y: (x.bitwiseAND(F.lit(m)) == y.bitwiseAND(F.lit(m))).cast(
            "int"
        )

    arms = []
    for b in _BBIT_VALUES:
        mask = (1 << b) - 1
        c = 2.0**-b  # exact binary fraction on both engines
        match = F.aggregate(
            F.zip_with("sig_a", "sig_b", masked_eq(mask)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        est = (match.cast("double") / F.lit(float(NUM_HASHES)) - F.lit(c)) / F.lit(
            1.0 - c
        )
        arms.append(F.struct(F.lit(b).alias("b"), est.alias("est")))
    scored = sided.select(
        jac.alias("jaccard"), F.explode(F.array(*arms)).alias("be")
    ).select(
        (F.floor(F.col("jaccard") * 10).cast("double") / F.lit(10.0)).alias(
            "jaccard_bucket"
        ),
        F.col("be.b").alias("b"),
        F.round("be.est", 9).cast("decimal(28,9)").alias("e"),
        F.round("jaccard", 9).cast("decimal(28,9)").alias("j"),
        F.round(F.abs(F.col("be.est") - F.col("jaccard")), 9)
        .cast("decimal(28,9)")
        .alias("d"),
    )
    n = F.col("n_pairs")
    return (
        scored.groupBy("jaccard_bucket", "b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("e").alias("es"),
            F.sum("j").alias("js"),
            F.sum("d").alias("ds"),
        )
        .select(
            "jaccard_bucket",
            "b",
            "n_pairs",
            F.round(F.col("es").cast("double") / n, 6).alias("mean_est"),
            F.round(F.col("js").cast("double") / n, 6).alias("mean_exact"),
            F.round(F.col("ds").cast("double") / n, 6).alias("mean_abs_err"),
        )
        .orderBy("jaccard_bucket", "b")
    )


def _bbit_minhash_sql(shingle: int = 3) -> str:
    arms = []
    for b in _BBIT_VALUES:
        mask = (1 << b) - 1
        c = 2.0**-b
        arms.append(
            f"  SELECT jaccard, {b} AS b,\n"
            f"         (CAST(len(list_filter(range(1, {NUM_HASHES} + 1),\n"
            f"             i -> (sig_a[i] & {mask}) = (sig_b[i] & {mask}))) AS DOUBLE)"
            f" / {float(NUM_HASHES)} - {c!r}) / {1.0 - c!r} AS est\n"
            f"  FROM pairs"
        )
    union = "\nUNION ALL\n".join(arms)
    return (
        _minhash_cand_sql(shingle)
        + rf""", pairs AS (
  SELECT CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard,
         sa.sig AS sig_a, sb.sig AS sig_b
  FROM cand JOIN sig sa ON cand.id_a = sa.doc_id
            JOIN sig sb ON cand.id_b = sb.doc_id
), est AS (
{union}
), bk AS (
  SELECT CAST(floor(jaccard * 10) AS DOUBLE) / 10.0 AS jaccard_bucket, b,
         CAST(ROUND(est, 9) AS DECIMAL(28,9)) AS e,
         CAST(ROUND(jaccard, 9) AS DECIMAL(28,9)) AS j,
         CAST(ROUND(abs(est - jaccard), 9) AS DECIMAL(28,9)) AS d
  FROM est
)
SELECT jaccard_bucket, b, COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(e) AS DOUBLE) / COUNT(*), 6) AS mean_est,
       ROUND(CAST(SUM(j) AS DOUBLE) / COUNT(*), 6) AS mean_exact,
       ROUND(CAST(SUM(d) AS DOUBLE) / COUNT(*), 6) AS mean_abs_err
FROM bk GROUP BY jaccard_bucket, b ORDER BY jaccard_bucket, b
"""
    )


BBIT_MINHASH_SQL = _bbit_minhash_sql()


def lsh_bucket_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED LSH band-bucket skew — the standing monitor for the
    failure mode minhash_estimate_report caught in r8 (the
    affine-rehash scheme put every document sharing the corpus-minimum
    shingle into ONE bucket in EVERY band): per band, the bucket-size
    distribution the banding actually produced — bucket count, max
    bucket, singleton share, top-bucket occupancy share, and the
    band's generated candidate-pair mass Σ C(size, 2). That last
    column is THE 100 TB number: the LSH self-join's cost is exactly
    the candidate mass, and a hot bucket makes it quadratic while
    every mean-size statistic still looks healthy. Healthy banding
    reads max_bucket ≈ near-dup cluster size and candidate_pairs ≈
    (true near-dup pairs) / (1 - miss rate); the r8 pathology read
    max_bucket ≈ 0.8·n_docs and candidate_pairs ≈ n_docs²/2 per band
    — this report would have flagged it in round 2.

    Scale shape: ONE signature pass (the shared `_band_keys` stage the
    dedup tiers use), a (band, key)-keyed count with map-side combine
    (≤ |docs|·BANDS slim rows into a uniform md5 key space), and a
    BANDS-row rollup of integer stats — no joins, no windows, nothing
    corpus-sized past the bucket count. All-integer arithmetic except
    the two 6dp share ratios, so the report is hash-oracled.
    """
    from mito_spark.engine import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    sh = staged_shingles(docs, 3)
    sigd = sh.select(
        "doc_id", _salted_minhash(F.col("sh"), NUM_HASHES).alias("sig")
    ).localCheckpoint()
    sizes = (
        _band_keys(sigd)
        .groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return (
        sizes.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("sz").alias("n_docs"),
            F.max("sz").alias("max_bucket"),
            F.sum(F.when(F.col("sz") == 1, 1).otherwise(0)).alias("n_single"),
            F.sum(F.expr("sz * (sz - 1) DIV 2")).alias("candidate_pairs"),
        )
        .select(
            F.col("band").cast("bigint").alias("band"),
            "n_buckets",
            "n_docs",
            "max_bucket",
            F.round(
                F.col("n_single").cast("double") / F.col("n_buckets"), 6
            ).alias("singleton_share"),
            F.round(
                F.col("max_bucket").cast("double") / F.col("n_docs"), 6
            ).alias("top_bucket_share"),
            "candidate_pairs",
        )
        .orderBy("band")
    )


LSH_BUCKET_SKEW_SQL = (
    _minhash_keyed_sql(3)
    + """, sizes AS (
  SELECT band, key, CAST(COUNT(*) AS BIGINT) AS sz FROM keyed GROUP BY band, key
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       MAX(sz) AS max_bucket,
       ROUND(CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS singleton_share,
       ROUND(CAST(MAX(sz) AS DOUBLE) / CAST(SUM(sz) AS BIGINT), 6) AS top_bucket_share,
       CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs
FROM sizes GROUP BY band ORDER BY band
"""
)


DEDUP_SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-threshold KNOB LADDER — the config table a dedup
    rollout reads before picking its Jaccard cutoff (the
    minhash/LSH sibling of ann_pq_recall_report's rerank/nprobe
    ladders): for each threshold in DEDUP_SWEEP_THRESHOLDS, the
    verified near-dup pair count, the number of documents touched by
    at least one pair (the upper bound on removals under any
    keep-one-per-group policy), and the mean Jaccard of surviving
    pairs. ONE candidate generation + ONE exact verification at the
    ladder floor (0.5); the sweep itself is a 5x fan-out of the
    BOUNDED verified-pair frame — no re-scan, no re-verify per rung.

    Zero-pair rungs keep their row (n_pairs = 0, NULL mean) so the
    ladder shape is stable as corpora change. Mean Jaccard follows the
    house decimal discipline (9dp-round -> DECIMAL(28,9) sum ->
    divide), so the report is hash-oracled end-to-end.
    """
    pairs = minhash_lsh_dedup(spark, sf_dir, threshold=0.5).localCheckpoint()
    th = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(float(t)) for t in DEDUP_SWEEP_THRESHOLDS])
        ).alias("threshold")
    )
    swept = th.join(pairs, F.col("jaccard") >= F.col("threshold"))
    pp = swept.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum(F.round(F.col("jaccard"), 9).cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_jaccard"),
    )
    dd = (
        swept.select("threshold", F.explode(F.array("id_a", "id_b")).alias("d"))
        .groupBy("threshold")
        .agg(F.countDistinct("d").alias("n_docs"))
    )
    return (
        th.join(pp, "threshold", "left")
        .join(dd, "threshold", "left")
        .select(
            "threshold",
            F.coalesce(F.col("n_pairs"), F.lit(0).cast("bigint")).alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0).cast("bigint")).alias("n_docs"),
            "mean_jaccard",
        )
        .orderBy("threshold")
    )


_SWEEP_TH_SQL = ", ".join(f"{t!r}::DOUBLE" for t in DEDUP_SWEEP_THRESHOLDS)

DEDUP_SWEEP_SQL = (
    _minhash_cand_sql(3)
    + rf""", pairs AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
           / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))) AS jaccard
  FROM cand JOIN tok ta ON cand.id_a = ta.doc_id
            JOIN tok tb ON cand.id_b = tb.doc_id
  WHERE CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
           / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))) >= 0.5
), th AS (
  SELECT unnest([{_SWEEP_TH_SQL}]) AS threshold
), swept AS (
  SELECT threshold, id_a, id_b, jaccard FROM th, pairs WHERE jaccard >= threshold
), pp AS (
  SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         ROUND(CAST(SUM(CAST(ROUND(jaccard, 9) AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6) AS mean_jaccard
  FROM swept GROUP BY threshold
), dd AS (
  SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
  FROM (SELECT threshold, unnest([id_a, id_b]) AS d FROM swept) GROUP BY threshold
)
SELECT th.threshold,
       coalesce(pp.n_pairs, 0) AS n_pairs,
       coalesce(dd.n_docs, 0) AS n_docs,
       pp.mean_jaccard
FROM th LEFT JOIN pp ON th.threshold = pp.threshold
        LEFT JOIN dd ON th.threshold = dd.threshold
ORDER BY th.threshold
"""
)


# --- LSH (bands x rows) configuration tuner ---------------------------


LSH_CURVE_JS = (0.5, 0.7, 0.9)  # Jaccard points for the theory columns


def _band_keys_cfg(sigd: DataFrame, bands: int, rows: int) -> DataFrame:
    """``_band_keys`` generalized to any (bands, rows) split of the
    SAME signature array — slot [b*rows+1 .. b*rows+rows] per band,
    identical md5 key expression."""
    band_cols = []
    for b in range(bands):
        parts = [
            F.element_at(F.col("sig"), b * rows + r + 1).cast("string")
            for r in range(rows)
        ]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws(":", *parts)).alias("key"))
        )
    return sigd.select("doc_id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _catch_prob(j: float, rows: int, bands: int) -> Column:
    """1 - (1 - j^rows)^bands as explicit left-assoc literal products
    (no pow() — identical IEEE sequences on both engines)."""
    jr = F.lit(float(j))
    for _ in range(rows - 1):
        jr = jr * F.lit(float(j))
    miss = F.lit(1.0) - jr
    p = miss
    for _ in range(bands - 1):
        p = p * (F.lit(1.0) - jr)
    return F.round(F.lit(1.0) - p, 6)


def lsh_curve_report(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5, shingle: int = 3
) -> DataFrame:
    """The LSH knob-tuning table: for EVERY (bands, rows_per_band)
    factorization of the NUM_HASHES signature budget, the measured
    cost AND the measured catch of that banding on this corpus, beside
    the textbook S-curve — the table a dedup rollout reads to pick
    (b, r) for its threshold, completing the tuner family
    (dedup_threshold_sweep walks the VERIFY knob; this walks the
    CANDIDATE-GENERATION knob; lsh_bucket_skew_report monitors the
    chosen config in production).

    Per config: candidate-pair mass Sigma C(sz,2) (THE cost number —
    the skew monitor's column, now comparable across configs),
    enumerated distinct candidate pairs, measured recall against the
    exact prefix-join ground truth at ``threshold`` (recall 1.0 by
    construction on the truth side), and the theoretical catch
    probability 1-(1-j^r)^b at J in {0.5, 0.7, 0.9} (explicit literal
    products — engine-exact, no pow()).

    Scale shape: ONE shingle scan and ONE signature pass feed every
    config (both checkpointed); all configs' band keys are tagged
    with their `bands` id and folded into ONE combined frame, so the
    whole ladder costs one bucket rollup, one bucket self-join, one
    candidate distinct and one truth probe (r13 — the per-config loop
    ran each as its own job chain). The self-join's output size is
    still the SUM of the configs' candidate masses — the ladder's
    total cost is the sum of the masses it measures, and the loose
    configs that would explode at 100 TB (bands=NUM_HASHES, rows=1)
    announce themselves in the same row that costs them. The truth
    side is the bounded verified-pair frame. At a production run the
    ladder subsets to configs whose predicted mass (from the skew
    monitor) fits budget.

    Parity: candidate masses and catches are integer-exact; recall is
    one 6dp try_divide; theory columns are literal products.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    shd = staged_shingles(docs, shingle).localCheckpoint()
    truth = (
        jaccard_prefix_join(
            spark, sf_dir, threshold=threshold, shingle=shingle, shingles=shd
        )
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    sigd = shd.select(
        "doc_id", _salted_minhash(F.col("sh"), NUM_HASHES).alias("sig")
    ).localCheckpoint()
    n_true = truth.count()  # bounded verified-pair frame
    # r13 (guide §2.4): ONE combined (bands, band, key) frame replaces
    # the per-config loop — the five configs' bucket rollup, bucket
    # self-join, candidate distinct and truth probe each ran their own
    # job chain (~25 jobs); tagging every config's band keys with its
    # `bands` id folds them into ONE rollup shuffle, ONE self-join,
    # ONE distinct and ONE truth probe (the dim-ablation rung-ladder
    # pattern). Per-config rows come back via the literal rung frame
    # (one 1-row select per config, union-folded at plan time — the
    # theory columns stay SPARK literal products so the engine-exact
    # IEEE sequence is unchanged); a config absent from an aggregate
    # (possible only on an empty corpus) coalesces to the same zeros
    # the old empty-input aggregates produced.
    legs = [
        _band_keys_cfg(sigd, bands, rows).select(
            F.lit(bands).alias("bands"), "doc_id", "band", "key"
        )
        for bands, rows in _lsh_configs()
    ]
    keys_all = legs[0]
    for leg in legs[1:]:
        keys_all = keys_all.unionAll(leg)
    mass_all = (
        keys_all.groupBy("bands", "band", "key")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("bands")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.coalesce(F.sum(F.expr("sz * (sz - 1) DIV 2")), F.lit(0)).alias(
                "candidate_mass"
            ),
        )
    )
    cand_all = (
        keys_all.alias("a")
        .join(keys_all.alias("b"), ["bands", "band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            "bands",
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    counts_all = cand_all.groupBy("bands").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    caught_all = (
        cand_all.join(truth, ["id_a", "id_b"])
        .groupBy("bands")
        .agg(F.count(F.lit(1)).alias("n_caught"))
    )
    rungs = []
    for bands, rows in _lsh_configs():
        rungs.append(
            spark.range(1).select(
                F.lit(bands).cast("bigint").alias("bands"),
                F.lit(rows).cast("bigint").alias("rows_per_band"),
                *[
                    _catch_prob(j, rows, bands).alias(f"p_catch_{int(j * 100)}")
                    for j in LSH_CURVE_JS
                ],
            )
        )
    rung = rungs[0]
    for r in rungs[1:]:
        rung = rung.unionAll(r)
    return (
        rung.join(mass_all, "bands", "left")
        .join(counts_all, "bands", "left")
        .join(caught_all, "bands", "left")
        .select(
            "bands",
            "rows_per_band",
            F.coalesce(F.col("n_buckets"), F.lit(0)).cast("bigint").alias("n_buckets"),
            F.coalesce(F.col("candidate_mass"), F.lit(0))
            .cast("bigint")
            .alias("candidate_mass"),
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            F.lit(n_true).cast("bigint").alias("n_true_pairs"),
            F.coalesce(F.col("n_caught"), F.lit(0)).cast("bigint").alias("n_caught"),
            F.round(
                F.try_divide(
                    F.coalesce(F.col("n_caught"), F.lit(0)).cast("double"),
                    F.lit(float(n_true)),
                ),
                6,
            ).alias("recall"),
            *[f"p_catch_{int(j * 100)}" for j in LSH_CURVE_JS],
        )
        .orderBy("bands")
    )


def _catch_prob_sql(j: float, rows: int, bands: int) -> str:
    # bare float literals parse as DECIMAL in DuckDB — cast every
    # operand to DOUBLE so the product chain is IEEE like Spark's
    lit = f"CAST({float(j)!r} AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    jr = " * ".join([lit] * rows)
    miss = f"({one} - ({jr}))"
    p = " * ".join([miss] * bands)
    return f"ROUND({one} - ({p}), 6)"


def _lsh_curve_sql(threshold: float = 0.5, shingle: int = 3) -> str:
    """Oracle twin of ``lsh_curve_report``: one MATERIALIZED sig CTE
    (DuckDB inlines multiply-referenced CTEs otherwise — the unigram
    prune lesson), one per-config keyed/cand chain, the same literal
    S-curve products."""
    sep = " || ':' || "
    parts = [
        rf"""
WITH rawtok AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), tok AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - {shingle - 1}, 1) + 1),
           i -> array_to_string(toks[i:i+{shingle - 1}], ' '))) AS sh
  FROM rawtok
), sig AS MATERIALIZED (
  SELECT doc_id, sh,
         list_transform(range(0, {NUM_HASHES}),
           j -> list_min(list_transform(sh,
                s -> CAST('0x' || substr(md5('mh' || CAST(j AS VARCHAR) || ':' || s), 1, 15) AS BIGINT)))) AS sig
  FROM tok
), truth AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM (SELECT doc_id, sh FROM tok WHERE len(sh) > 0) a
  JOIN (SELECT doc_id, sh FROM tok WHERE len(sh) > 0) b2 ON a.doc_id < b2.doc_id
  WHERE CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE)
        / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh))) >= {threshold}
)"""
    ]
    rows_sql = []
    for bands, rows in _lsh_configs():
        cases = " ".join(
            f"WHEN {b} THEN md5("
            + sep.join(f"CAST(sig[{b * rows + r + 1}] AS VARCHAR)" for r in range(rows))
            + ")"
            for b in range(bands)
        )
        theory = ", ".join(
            _catch_prob_sql(j, rows, bands) + f" AS p_catch_{int(j * 100)}"
            for j in LSH_CURVE_JS
        )
        parts.append(f""", keyed{bands} AS MATERIALIZED (
  SELECT doc_id, band, CASE band {cases} END AS key
  FROM sig, range(0, {bands}) t(band)
), cand{bands} AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM keyed{bands} a JOIN keyed{bands} b2 USING (band, key)
  WHERE a.doc_id < b2.doc_id
), row{bands} AS MATERIALIZED (
  SELECT CAST({bands} AS BIGINT) AS bands,
         CAST({rows} AS BIGINT) AS rows_per_band,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM (SELECT band, key, COUNT(*) AS sz FROM keyed{bands} GROUP BY band, key)) AS n_buckets,
         (SELECT CAST(coalesce(SUM(sz * (sz - 1) // 2), 0) AS BIGINT)
          FROM (SELECT band, key, COUNT(*) AS sz FROM keyed{bands} GROUP BY band, key)) AS candidate_mass,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{bands}) AS n_candidates,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{bands} JOIN truth USING (id_a, id_b)) AS n_caught,
         ROUND(CAST((SELECT COUNT(*) FROM cand{bands} JOIN truth USING (id_a, id_b)) AS DOUBLE)
               / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 6) AS recall,
         {theory}
)""")
        rows_sql.append(f"SELECT * FROM row{bands}")
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(rows_sql) + "\nORDER BY bands\n"


LSH_CURVE_SQL = _lsh_curve_sql()


# --- weighted (term-frequency) Jaccard verify --------------------------

WJ_THRESHOLD = 0.4  # weighted measure runs below the set measure: the
# min/max ratio punishes frequency mismatch that set-Jaccard can't see


def dedup_weighted_jaccard(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = WJ_THRESHOLD,
    shingle: int = 3,
) -> DataFrame:
    """Near-dup pairs under WEIGHTED Jaccard — the term-frequency
    multiset measure J_w(A,B) = Σ_t min(tf_A, tf_B) / Σ_t max(tf_A,
    tf_B) — the similarity CCNet-style pipelines use when duplicated
    boilerplate repeats WITHIN a document (set-Jaccard saturates at 1
    for any permutation/repetition of the same types; the weighted
    form sees the frequency profile). Candidate generation is the
    SHARED unweighted MinHash banding (the standing candidate
    generator of every dedup tier here — a candidate filter, so the
    weighted verify can only shrink it); verification is exact
    weighted Jaccard on token frequencies.

    The max-sum identity does the heavy lifting: Σ max(a,b) =
    Σ_A tf + Σ_B tf − Σ min(a,b), so the verify needs only the
    SHARED-token min-sum (an equi-join on token over the
    candidate-restricted tf frames) plus each doc's total token count
    — never a full outer union of the two vocabularies.

    Scale shape: one tokenize scan feeds signatures and tf frames
    (staged); candidates are banding-bounded; the verify join
    explodes ONLY candidate docs' tokens (semi-join restriction
    first). Output (id_a, id_b, weighted_jaccard >= threshold),
    integer-exact ratio, 6dp.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    shd = staged_shingles(docs, shingle).localCheckpoint()
    # banding candidates WITHOUT the set-Jaccard verify cut: reuse the
    # signature/banding stages directly
    sigd = shd.select(
        "doc_id", _salted_minhash(F.col("sh"), NUM_HASHES).alias("sig")
    ).localCheckpoint()
    cand = _lsh_candidates(sigd).localCheckpoint()
    cdocs = (
        cand.select(F.col("id_a").alias("doc_id"))
        .unionAll(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    tf = (
        docs.join(cdocs, "doc_id")  # verify explodes ONLY candidate docs
        .select("doc_id", F.explode(fields(F.lower(F.col("text")))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    tot = tf.groupBy("doc_id").agg(F.sum("tf").alias("tot"))
    minsum = (
        cand.join(tf.select(F.col("doc_id").alias("id_a"), "tok", F.col("tf").alias("tfa")), "id_a")
        .join(
            tf.select(F.col("doc_id").alias("id_b"), "tok", F.col("tf").alias("tfb")),
            ["id_b", "tok"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("tfa", "tfb")).alias("msum"))
    )
    return (
        cand.join(minsum, ["id_a", "id_b"], "left")
        .join(tot.alias("ta"), F.col("id_a") == F.col("ta.doc_id"))
        .join(tot.alias("tb"), F.col("id_b") == F.col("tb.doc_id"))
        .select("id_a", "id_b", F.coalesce(F.col("msum"), F.lit(0)).alias("msum"),
                F.col("ta.tot").alias("tot_a"), F.col("tb.tot").alias("tot_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("msum").cast("double")
                / (F.col("tot_a") + F.col("tot_b") - F.col("msum")).cast("double"),
                6,
            ).alias("weighted_jaccard"),
        )
        .where(F.col("weighted_jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def _weighted_jaccard_sql(threshold: float = WJ_THRESHOLD, shingle: int = 3) -> str:
    """Twin of ``dedup_weighted_jaccard``: the shared candidate head
    re-selected into a MATERIALIZED alias (cand is referenced four
    times; DuckDB would otherwise re-execute the whole
    tokenize→signature→band chain per reference — the unigram-prune
    lesson), then tf frames and the min-sum equi-join."""
    return (
        _minhash_cand_sql(shingle)
        + rf""", candm AS MATERIALIZED (
  SELECT id_a, id_b FROM cand
), tfr AS MATERIALIZED (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM rawtok
        WHERE doc_id IN (SELECT id_a FROM candm UNION SELECT id_b FROM candm))
  GROUP BY doc_id, tok
), tot AS MATERIALIZED (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tot FROM tfr GROUP BY doc_id
), msum AS (
  SELECT c.id_a, c.id_b, CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS msum
  FROM candm c
  JOIN tfr a ON a.doc_id = c.id_a
  JOIN tfr b ON b.doc_id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b,
       ROUND(CAST(coalesce(msum, 0) AS DOUBLE)
             / CAST(ta.tot + tb.tot - coalesce(msum, 0) AS DOUBLE), 6) AS weighted_jaccard
FROM candm LEFT JOIN msum USING (id_a, id_b)
JOIN tot ta ON ta.doc_id = candm.id_a
JOIN tot tb ON tb.doc_id = candm.id_b
WHERE ROUND(CAST(coalesce(msum, 0) AS DOUBLE)
            / CAST(ta.tot + tb.tot - coalesce(msum, 0) AS DOUBLE), 6) >= {threshold}
ORDER BY id_a, id_b
"""
    )


DEDUP_WEIGHTED_JACCARD_SQL = _weighted_jaccard_sql()


# --- edit-distance verification tier ------------------------------------

ED_THRESHOLD = 0.8  # normalized edit similarity floor (1 - lev/max_len)


def dedup_edit_distance(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = ED_THRESHOLD,
    shingle: int = 3,
) -> DataFrame:
    """Near-dup pairs under NORMALIZED EDIT SIMILARITY — 1 −
    lev(a,b) / max(|a|,|b|) (Levenshtein 1966) — the character-level
    precision tier of the dedup verify family (set Jaccard saturates
    under reordering, weighted Jaccard under frequency-preserving
    shuffles; edit distance is the only measure here that sees ORDER,
    which is what near-identical template instantiations and OCR/typo
    variants differ by). Candidate generation is the SHARED MinHash
    banding chain (never all-pairs); verification is exact Levenshtein
    on the JVM (`F.levenshtein`, whole-stage codegen).

    Two scale guards, in order:
    - **Length prefilter** (Gravano et al., VLDB'01): lev(a,b) ≥
      ||a|−|b||, so sim ≥ t requires ||a|−|b|| ≤ (1−t)·max(|a|,|b|) —
      a free integer predicate that removes the worst O(|a|·|b|) DP
      pairs before any DP runs.
    - **Banded DP at scale**: the full DP is O(|a|·|b|) per pair —
      fine for the short-field/title/line corpora this tier is FOR;
      for long documents pass Spark's threshold form
      ``levenshtein(l, r, k)`` (early-exits the DP at O(n·k) once the
      distance provably exceeds k = ⌊(1−t)·max_field_len⌋) or use the
      Jaccard/CDC tiers, which exist precisely because edit distance
      on 100 KB docs is the wrong tool.

    Engine parity note, recorded: Spark's levenshtein counts CODE
    POINTS, DuckDB's counts BYTES — identical on this corpus (verified
    ASCII-only at every SF; strlen(text) = length(text) for all rows),
    divergent on multi-byte text. The operator takes Spark's
    code-point semantics as the spec.

    Output: (id_a, id_b, edit_dist, edit_sim) for candidate pairs with
    sim ≥ threshold; empty-vs-empty pairs define sim = 1.0.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    sigd = (
        staged_shingles(docs, shingle)
        .select("doc_id", _salted_minhash(F.col("sh"), NUM_HASHES).alias("sig"))
        .localCheckpoint()  # feeds both sides of the band self-join
    )
    cand = _lsh_candidates(sigd)
    dd = docs.select("doc_id", "text", F.length("text").alias("len"))
    sided = cand.join(
        dd.select(
            F.col("doc_id").alias("id_a"),
            F.col("text").alias("ta"),
            F.col("len").alias("la"),
        ),
        "id_a",
    ).join(
        dd.select(
            F.col("doc_id").alias("id_b"),
            F.col("text").alias("tb"),
            F.col("len").alias("lb"),
        ),
        "id_b",
    )
    mx = F.greatest("la", "lb")
    # prefilter BEFORE the DP: texts of hopeless pairs never reach it
    pruned = sided.where(
        F.abs(F.col("la") - F.col("lb")) <= F.lit(1.0 - threshold) * mx
    )
    staged = pruned.select(
        "id_a",
        "id_b",
        F.levenshtein("ta", "tb").cast("long").alias("edit_dist"),
        mx.alias("mx"),
    )
    sim = F.when(F.col("mx") == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.col("edit_dist").cast("double") / F.col("mx").cast("double")
    )
    return (
        staged.select("id_a", "id_b", "edit_dist", sim.alias("sim"))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "edit_dist", F.round("sim", 6).alias("edit_sim"))
        .orderBy("id_a", "id_b")
    )


def _edit_distance_sql(threshold: float = ED_THRESHOLD, shingle: int = 3) -> str:
    """Twin of ``dedup_edit_distance``: shared candidate head, the
    same length prefilter (identical interpolated double literal on
    both engines, so the predicate boundary is bit-exact), DuckDB's
    levenshtein as the DP."""
    return (
        _minhash_cand_sql(shingle)
        + rf""", dd AS (
  SELECT doc_id, text, length(text) AS len FROM documents
), pruned AS (
  SELECT id_a, id_b,
         CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
         greatest(a.len, b.len) AS mx
  FROM cand
  JOIN dd a ON cand.id_a = a.doc_id
  JOIN dd b ON cand.id_b = b.doc_id
  WHERE abs(a.len - b.len) <= {1.0 - threshold} * greatest(a.len, b.len)
), ver AS (
  SELECT id_a, id_b, edit_dist,
         CASE WHEN mx = 0 THEN 1.0
              ELSE 1.0 - CAST(edit_dist AS DOUBLE) / CAST(mx AS DOUBLE) END AS sim
  FROM pruned
)
SELECT id_a, id_b, edit_dist, ROUND(sim, 6) AS edit_sim
FROM ver WHERE sim >= {threshold}
ORDER BY id_a, id_b
"""
    )


DEDUP_EDIT_DISTANCE_SQL = _edit_distance_sql()


# --- cross-modality dedup agreement -------------------------------------


def dedup_modality_agreement(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    cos_threshold: float = 0.45,
    shingle: int = 3,
) -> DataFrame:
    """Agreement between the two near-dup modalities — text-shingle
    MinHash-LSH pairs (J >= threshold, exact-verified) vs
    embedding-cosine pairs (cos >= cos_threshold, LSH-blocked) — as
    one row: pair counts, the intersection, each-modality-only
    counts, and the pair-set Jaccard. THE question this answers for a
    100 TB rollout: can the embedding tier REPLACE the shingle tier
    (high agreement) or do they catch different duplication
    (paraphrase vs verbatim) and both must run? Text-only pairs =
    verbatim overlap the embedding space smooths away; embedding-only
    pairs = semantic near-dups sharing few exact shingles.

    The synthetic corpus aligns vec_id = doc_id 1:1 (TESTDATA);
    production inserts its doc->embedding id map before the joins.

    Scale shape: pure composition of two already-audited tiers — both
    inputs are their bounded VERIFIED pair frames (checkpointed);
    agreement is two counts and one equi-join on those frames. Counts
    integer-exact; pair-set Jaccard one 6dp try_divide.
    """
    from mito_spark.operators.similarity import embedding_near_dup

    tp = (
        minhash_lsh_dedup(spark, sf_dir, threshold=threshold, shingle=shingle)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    ep = (
        embedding_near_dup(spark, sf_dir, threshold=cos_threshold)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    both = tp.join(ep, ["id_a", "id_b"]).agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("bigint").alias("n_both")
    )
    return (
        tp.agg(F.count(F.lit(1)).cast("bigint").alias("n_text_pairs"))
        .crossJoin(ep.agg(F.count(F.lit(1)).cast("bigint").alias("n_emb_pairs")))
        .crossJoin(both)
        .select(
            "n_text_pairs",
            "n_emb_pairs",
            "n_both",
            (F.col("n_text_pairs") - F.col("n_both")).alias("n_text_only"),
            (F.col("n_emb_pairs") - F.col("n_both")).alias("n_emb_only"),
            F.round(
                F.try_divide(
                    F.col("n_both").cast("double"),
                    (
                        F.col("n_text_pairs")
                        + F.col("n_emb_pairs")
                        - F.col("n_both")
                    ).cast("double"),
                ),
                6,
            ).alias("pair_jaccard"),
        )
    )


def _modality_agreement_sql(
    threshold: float = 0.5, cos_threshold: float = 0.45, shingle: int = 3, dim: int = 64
) -> str:
    from mito_spark.operators.similarity import bucket_sql, dot_sql

    cos = (
        f"{dot_sql('x.v', 'y.v', dim)} / (sqrt({dot_sql('x.v', 'x.v', dim)})"
        f" * sqrt({dot_sql('y.v', 'y.v', dim)}))"
    )
    jac = (
        "CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)"
        " / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh)))"
    )
    return (
        _minhash_cand_sql(shingle)
        + f""", tpairs AS MATERIALIZED (
  SELECT id_a, id_b
  FROM cand JOIN tok ta ON cand.id_a = ta.doc_id
            JOIN tok tb ON cand.id_b = tb.doc_id
  WHERE {jac} >= {threshold}
), ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), bv AS (
  SELECT vec_id, v, {bucket_sql('v', dim)} AS bucket FROM ev
), epairs AS MATERIALIZED (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM bv x JOIN bv y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
  WHERE {cos} >= {cos_threshold}
), nboth AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_both
  FROM tpairs JOIN epairs USING (id_a, id_b)
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tpairs) AS n_text_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM epairs) AS n_emb_pairs,
       n_both,
       (SELECT COUNT(*) FROM tpairs) - n_both AS n_text_only,
       (SELECT COUNT(*) FROM epairs) - n_both AS n_emb_only,
       ROUND(CAST(n_both AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM tpairs) + (SELECT COUNT(*) FROM epairs) - n_both AS DOUBLE), 6)
         AS pair_jaccard
FROM nboth
"""
    )


DEDUP_MODALITY_SQL = _modality_agreement_sql()


# --- normalization-ladder exact dedup ----------------------------------


def dedup_normalization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much extra exact duplication each text-normalization rung
    surfaces — the pre-dedup decision CCNet/RefinedWeb make before
    hashing: raw bytes, lowercase, whitespace-collapse, and
    punctuation-strip, each rung strictly coarser than the last. Per
    rung: distinct hash count, dup doc count (docs minus distinct =
    Σ(group-1)), and the dup fraction. A corpus where the rate jumps
    at the punct rung is full of near-verbatim syndication; one where
    raw already catches everything doesn't need normalization cost at
    scale.

    Scale shape: four hash-groupBys over ONE scan (the staged
    normalized columns are projections — md5 group keys are uniform,
    no skew; this is ``dedup_exact``'s plan replicated per rung).
    Counts integer-exact; one 6dp ratio. Normalizers are anchored
    ASCII regexes evaluated identically on both engines (DuckDB
    regexp_replace needs the 'g' flag to match Spark's replace-all).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    lower = F.lower(F.col("text"))
    ws = F.regexp_replace(F.trim(lower), r"\s+", " ")
    punct = F.regexp_replace(
        F.regexp_replace(F.trim(lower), r"[^a-z0-9\s]", ""), r"\s+", " "
    )
    rungs = [
        ("1_raw", F.col("text")),
        ("2_lower", lower),
        ("3_whitespace", ws),
        ("4_punct", punct),
    ]
    staged = docs.select(
        "doc_id", *[F.md5(expr).alias(f"h{i}") for i, (_, expr) in enumerate(rungs)]
    ).localCheckpoint()
    outs = []
    for i, (name, _) in enumerate(rungs):
        agg = staged.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.col(f"h{i}")).alias("n_distinct"),
        )
        outs.append(
            agg.select(
                F.lit(name).alias("rung"),
                "n_docs",
                "n_distinct",
                (F.col("n_docs") - F.col("n_distinct")).alias("n_dup_docs"),
                F.round(
                    F.try_divide(
                        (F.col("n_docs") - F.col("n_distinct")).cast("double"),
                        F.col("n_docs").cast("double"),
                    ),
                    6,
                ).alias("dup_frac"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("rung")


def _normalization_sql() -> str:
    rungs = [
        ("1_raw", "text"),
        ("2_lower", "lower(text)"),
        ("3_whitespace", r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"),
        (
            "4_punct",
            r"regexp_replace(regexp_replace(trim(lower(text)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')",
        ),
    ]
    rows = []
    for name, expr in rungs:
        rows.append(f"""SELECT '{name}' AS rung,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5({expr})) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT md5({expr})) AS BIGINT) AS n_dup_docs,
       ROUND(CAST(COUNT(*) - COUNT(DISTINCT md5({expr})) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
FROM documents""")
    return "\nUNION ALL\n".join(rows) + "\nORDER BY rung\n"


DEDUP_NORMALIZATION_SQL = _normalization_sql()


# --- Content-defined chunking (CDC) sub-document dedup ------------------

CDC_WINDOW = 16  # boundary-judgment window (chars)
CDC_MOD = 64  # boundary when window-hash % CDC_MOD == 0 -> expected
# chunk length ~= CDC_MOD chars (the mask-bits knob of FastCDC)


def _cdc_chunks(docs: DataFrame, window: int = CDC_WINDOW, mod: int = CDC_MOD) -> DataFrame:
    """(doc_id, chunk_idx, chunk): the content-defined chunk frame —
    the single definition consumed by ``cdc_chunk_dedup``'s rollup and
    the streaming twin's equality tests (``cdc_boundaries_py`` is its
    row-local Python mirror for the stream-side chunker). chunk_idx is
    the 0-based position order within the doc.

    Scale shape (r12 rewrite): the text is split ONCE into a char
    array, and every per-position window is an O(window) array slice —
    NOT ``substr(i, window)``, whose code-point seek is O(i) per call
    and made the old boundary scan O(len²) per doc (the nb_langid
    pathology; invisible on short gate docs, ~10¹⁰ char ops on a
    100 KB doc). Boundary positions, spans, and chunk texts are all
    derived INSIDE the row via higher-order functions (filter /
    transform / posexplode), so the whole chunker is one scan-stage
    projection: no per-position explode, no window shuffle, no
    doc-keyed self-join, no checkpoint. Per-doc cost is
    O(len·window) for the scan plus O(len) to slice chunk bytes.

    The ``len == window`` edge is guarded: sequence(2, len-(window-1))
    with len == window is sequence(2, 1), which Spark emits as the
    DESCENDING range [2, 1] — the guard returns an empty position
    array instead, matching the Python mirror's range(2, n-window+2)
    and the oracle's DuckDB range(2, 2), both empty."""
    base = docs.select(
        "doc_id",
        F.length("text").alias("len"),
        F.split(F.col("text"), "").alias("chars"),
    )

    def _win_at(i: Column) -> Column:
        return F.concat_ws("", F.slice(F.col("chars"), i, F.lit(window)))

    bounds = F.when(
        F.col("len") - (window - 1) >= 2,
        F.filter(
            F.sequence(F.lit(2), F.col("len") - (window - 1)),
            lambda i: hash60(_win_at(i)) % mod == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    spans = base.select(
        "doc_id",
        "len",
        "chars",
        F.concat(F.array(F.lit(1)), bounds).alias("starts"),
    )
    # starts is strictly increasing with every start <= len, so each
    # span is non-empty except the len == 0 degenerate (starts=[1],
    # end=1) — the empty-chunk filter below drops only that row.
    return (
        spans.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.col("starts"),
                    lambda s, k: F.concat_ws(
                        "",
                        F.slice(
                            F.col("chars"),
                            s,
                            F.coalesce(
                                F.get(F.col("starts"), k + F.lit(1)),
                                F.col("len") + 1,
                            )
                            - s,
                        ),
                    ),
                )
            ).alias("chunk_idx", "chunk"),
        )
        .where(F.length("chunk") > 0)
        .select("doc_id", "chunk_idx", "chunk")
    )


def cdc_boundaries_py(text: str, window: int = CDC_WINDOW, mod: int = CDC_MOD) -> list[str]:
    """Row-local Python mirror of ``_cdc_chunks``'s boundary rule (for
    the streaming chunker): hashlib md5's first 15 hex chars as a
    60-bit int — the exact ``hash60`` construction — tested equal to
    the JVM frame chunk-for-chunk."""
    import hashlib

    n = len(text)
    bounds = [1] + [
        i
        for i in range(2, n - window + 2)
        if int(hashlib.md5(text[i - 1 : i - 1 + window].encode()).hexdigest()[:15], 16)
        % mod
        == 0
    ]
    bounds.append(n + 1)
    return [
        text[a - 1 : b - 1] for a, b in zip(bounds, bounds[1:]) if b > a
    ]


def cdc_chunk_dedup(
    spark: SparkSession,
    sf_dir: str,
    window: int = CDC_WINDOW,
    mod: int = CDC_MOD,
) -> DataFrame:
    """Content-defined chunking dedup — the SUB-DOCUMENT dedup tier
    (LBFS, Muthitacharoen et al. SOSP'01; FastCDC, Xia et al. USENIX
    ATC'16): chunk boundaries are placed where a local window hash
    satisfies a modulus condition, so boundaries RESYNCHRONIZE after
    insertions — two documents sharing a long substring at DIFFERENT
    offsets still produce identical chunks inside the shared region,
    the property fixed-size chunking lacks and whole-doc hashing
    (``exact_dedup``) can't see. The storage/transfer-dedup primitive
    (rsync/casync/restic) applied to corpus curation: the output is
    the shared-chunk table a pipeline uses to bill cross-document
    boilerplate at sub-document granularity (complementing
    ``boilerplate_ngrams``' fixed-n view and ``winnow_fingerprints``'
    pair detection with variable-length, content-aligned dedup UNITS).

    Boundary rule: a chunk starts at position i (i >= 2) iff the
    60-bit md5 hash of the ``window`` chars starting at i is ≡ 0
    (mod ``mod``); position 1 is an implicit start, end-of-doc an
    implicit end. Expected chunk length ≈ ``mod`` chars. No min/max
    clamping (documented convention — FastCDC's normalization is a
    constant-factor tweak on the same shuffle shape).

    Scale shape: the entire chunker is ONE scan-stage projection —
    the text is split once to a char array and every per-position
    window is an O(window) array slice (never ``substr(i, w)``, whose
    code-point seek is O(i) and turns the scan quadratic in doc
    length); boundary positions, spans, and chunk texts all derive
    inside the row via higher-order functions, so NOTHING shuffles
    until the final groupBy of slim (chunk_hash, doc_id, len) rows —
    exact_dedup's shape at chunk granularity. Per-doc cost is
    O(len·window): linear in document length, safe for the 100 KB+
    documents sub-document dedup exists for. Output: one row per
    chunk content shared by >= 2 docs (chunk_hash, chunk_len, n_docs,
    n_occurrences, kept_doc), ordered by hash.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    chunks = _cdc_chunks(docs, window, mod)
    return (
        chunks.select(
            "doc_id", F.md5("chunk").alias("chunk_hash"), F.length("chunk").alias("cl")
        )
        .groupBy("chunk_hash")
        .agg(
            F.min("cl").cast("bigint").alias("chunk_len"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("kept_doc"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy("chunk_hash")
    )


def _cdc_sql(window: int = CDC_WINDOW, mod: int = CDC_MOD) -> str:
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, text, length(text) AS len FROM documents
), cand AS (
  SELECT doc_id, len, unnest(range(2, len - {window - 1} + 1)) AS i
  FROM base WHERE len >= {window}
), bnd AS (
  SELECT c.doc_id, c.len, CAST(c.i AS BIGINT) AS i
  FROM cand c JOIN base b ON b.doc_id = c.doc_id
  WHERE CAST('0x' || substr(md5(substr(b.text, CAST(c.i AS INT), {window})), 1, 15) AS BIGINT) % {mod} = 0
), allb AS (
  SELECT doc_id, len, CAST(1 AS BIGINT) AS i FROM base
  UNION ALL SELECT doc_id, len, i FROM bnd
), spans AS (
  SELECT doc_id, i,
         COALESCE(LEAD(i) OVER (PARTITION BY doc_id ORDER BY i), len + 1) AS nxt
  FROM allb
), chunks AS (
  SELECT s.doc_id,
         substr(b.text, CAST(s.i AS INT), CAST(s.nxt - s.i AS INT)) AS chunk
  FROM spans s JOIN base b USING (doc_id)
  WHERE s.nxt > s.i
)
SELECT md5(chunk) AS chunk_hash,
       CAST(MIN(length(chunk)) AS BIGINT) AS chunk_len,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       MIN(doc_id) AS kept_doc
FROM chunks
GROUP BY chunk_hash
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY chunk_hash
"""


CDC_SQL = _cdc_sql()


# --- near-dup pair explain surface ---------------------------------------

EXPLAIN_TOP_PAIRS = 10
EXPLAIN_SHINGLES = 5


def dedup_pair_explain(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    shingle: int = 3,
    top_pairs: int = EXPLAIN_TOP_PAIRS,
    n_examples: int = EXPLAIN_SHINGLES,
) -> DataFrame:
    """The near-dup EXPLAIN surface — what a curation reviewer asks
    right after the dedup report: WHY are these two documents flagged?
    For the top ``top_pairs`` verified pairs (jaccard desc, ids asc),
    emit the overlap evidence: shared/total shingle counts and the
    first ``n_examples`` shared shingles in lexicographic order (the
    deterministic sample a human spot-checks; at 100 TB this is the
    table an audit UI pages through, never the full intersection).

    Scale shape: everything ``minhash_lsh_dedup`` costs (the shared
    candidate+verify chain), then ONE TakeOrdered to the bounded pair
    frame and a doc-keyed join of just those <= 2·top_pairs docs'
    shingle sets; the intersection sort+slice runs on the bounded
    frame only. Parity: counts are exact ints; jaccard is the verify
    stage's exact rational, rounded 6dp here; the example list is
    array_sort + slice + comma-join — identical on both engines
    (shingles contain no commas: they are space-joined word n-grams).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    shd = staged_shingles(docs, shingle).localCheckpoint()
    pairs = (
        minhash_lsh_dedup(spark, sf_dir, threshold, shingle, shingles=shd)
        .orderBy(F.desc("jaccard"), F.asc("id_a"), F.asc("id_b"))
        .limit(top_pairs)
        .localCheckpoint()
    )
    j = pairs.join(
        shd.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"),
        "id_a",
    ).join(
        shd.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"),
        "id_b",
    )
    inter = F.array_sort(F.array_intersect("sh_a", "sh_b"))
    return (
        j.select(
            "id_a",
            "id_b",
            F.round("jaccard", 6).alias("jaccard"),
            F.size(inter).cast("bigint").alias("n_shared"),
            F.size("sh_a").cast("bigint").alias("n_sh_a"),
            F.size("sh_b").cast("bigint").alias("n_sh_b"),
            F.array_join(F.slice(inter, 1, n_examples), ",").alias(
                "example_shingles"
            ),
        )
        .orderBy(F.desc("jaccard"), F.asc("id_a"), F.asc("id_b"))
    )


def _pair_explain_sql(
    threshold: float = 0.5,
    shingle: int = 3,
    top_pairs: int = EXPLAIN_TOP_PAIRS,
    n_examples: int = EXPLAIN_SHINGLES,
) -> str:
    return (
        _minhash_cand_sql(shingle, *auto_lsh_bands(threshold))
        + rf""", verified AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
           / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))) AS jaccard
  FROM cand JOIN tok ta ON cand.id_a = ta.doc_id
            JOIN tok tb ON cand.id_b = tb.doc_id
  WHERE CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
           / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))) >= {threshold}
), top AS (
  SELECT id_a, id_b, jaccard FROM verified
  ORDER BY jaccard DESC, id_a, id_b LIMIT {top_pairs}
)
SELECT t.id_a, t.id_b,
       ROUND(t.jaccard, 6) AS jaccard,
       CAST(len(list_intersect(ta.sh, tb.sh)) AS BIGINT) AS n_shared,
       CAST(len(ta.sh) AS BIGINT) AS n_sh_a,
       CAST(len(tb.sh) AS BIGINT) AS n_sh_b,
       COALESCE(array_to_string(list_sort(list_intersect(ta.sh, tb.sh))[1:{n_examples}], ','), '') AS example_shingles
FROM top t JOIN tok ta ON t.id_a = ta.doc_id
           JOIN tok tb ON t.id_b = tb.doc_id
ORDER BY t.jaccard DESC, t.id_a, t.id_b
"""
    )


PAIR_EXPLAIN_SQL = _pair_explain_sql()
