"""Near-duplicate detection queries over `documents` (C22-C23; the
LLM-pipeline dedup mandate). Exact dedup (`dedup_docs`) lives in
`queries/core.py`; here:

- ``ngram_jaccard_pairs`` — exact n-gram Jaccard via a count-based
  inverted-index join (SQL-oracle-verified ground truth),
- ``minhash_near_dups`` — MinHash-LSH banding, candidates verified with
  exact Jaccard (rows-only for the driver; tests/ bounds recall against
  the ground-truth query),
- ``simhash_near_dups`` — 64-bit SimHash with pigeonhole chunk banding
  (rows-only; tests/ checks consistency with Jaccard ground truth).

100 TB notes: all three avoid the O(n^2) all-pairs scan, and none of
them ever shuffles a document or a shingle *array*:

- Shingles are reduced to ``xxhash64`` longs before any join, so the
  inverted-index shuffle moves 8-byte keys, not 30-byte strings.
- ``ngram_jaccard_pairs`` is two-stage: a df-capped inverted-index
  self-join generates DISTINCT candidate id pairs (hot shingles with
  df > POSTING_DF_CAP are excluded up front, so a posting list of
  length m never becomes m^2 pair rows), then each candidate is
  verified with exact Jaccard over the FULL hashed shingle arrays
  (``array_intersect`` / ``array_union`` on longs) — arrays ship only
  for candidates, never for the whole corpus. The DuckDB oracle
  applies the SAME df-cap in its candidate CTE, so the two engines are
  equivalent by construction, not just on the current fixture.
- MinHash/SimHash signature tables are computed once and cached before
  their self-joins (at cluster scale: persisted as a signature table),
  so the signature expressions don't recompute per join branch; the
  capped inverted index is memoized the same way, because a self-join
  would otherwise rebuild the df aggregate once per join branch.
- Frequent-shingle skew (a posting list of length m yields m^2 pair
  rows) is the known failure mode; AQE skew-join splitting handles
  moderate skew, and the df-cap removes the pathological keys before
  candidate generation — the 100 TB mitigation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.sketches import (
    SHINGLE_K,
    band_values,
    hashed_word_shingles,
    minhash_batches,
    simhash_batches,
    simhash_chunks,
)

JACCARD_THRESHOLD = 0.4
HAMMING_MAX = 3

# df-cap for posting lists (100 TB skew guard): a shingle hash appearing in
# more than DF_CAP documents is dropped from CANDIDATE GENERATION only — a
# posting list of length m yields m^2 candidate pairs, and a shingle shared
# by hundreds of documents carries no near-dup signal. Verification always
# re-checks exact Jaccard on the FULL (uncapped) shingle sets, so the cap
# can only ever drop a pair whose EVERY shared shingle is hot — a pair that
# is a near-duplicate of corpus-wide boilerplate only. That is deliberate
# query semantics, and the DuckDB oracle applies the identical cap (on
# shingle strings; Spark caps on their xxhash64 longs — equivalent up to
# 64-bit hash collisions, which the Jaccard arithmetic already tolerates),
# so Spark and the oracle agree on ALL corpora, not just the fixture.
POSTING_DF_CAP = 100

# Cached-table memo, keyed by (session id, sf_dir): the three dedup queries
# share one shingle table and the MinHash query reuses its signature table
# across its join branches. Entries for other keys are unpersisted so a
# multi-query session (the driver runs 50+) doesn't accumulate executor
# storage across scale factors or restarted sessions. The memo is kept for
# speed: without it, ngram_jaccard_pairs on perfbench llm_docs seed 7
# (4 cores) took 6.0-6.1 s per warm run instead of 1.0-1.3 s.
_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def clear_cache() -> None:
    """Drop + unpersist every memoized dedup table (registered with the
    package-level clear_caches hook; bench.py calls it per repetition)."""
    for key in list(_CACHE):
        try:
            _CACHE.pop(key).unpersist()
        except Exception:  # noqa: BLE001
            pass


from .. import register_cache_clearer  # noqa: E402

register_cache_clearer(clear_cache)


def _memo_cache(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    key = (id(spark), sf_dir, kind)
    hit = _CACHE.get(key)
    if hit is not None:
        return hit
    for stale_key in [k for k in _CACHE if k[:2] != key[:2]]:
        try:
            _CACHE.pop(stale_key).unpersist()
        except Exception:
            pass
    df = build().cache()
    _CACHE[key] = df
    return df


def _hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hashes: array<long>, n: int) — distinct shingles reduced
    to xxhash64 longs. All downstream set arithmetic runs on longs.

    Cached once per (session, sf_dir) and shared by all three dedup
    queries — the interpreted shingling pass runs once and every join
    branch reads the cache. At cluster scale this is the persisted
    signature/shingle table a real dedup pipeline writes before pair
    generation.
    """

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        tok = docs.select("doc_id", F.split(F.lower("text"), " ").alias("t")).filter(
            F.size("t") >= SHINGLE_K
        )
        return tok.select(
            "doc_id", hashed_word_shingles(F.col("t")).alias("hashes")
        ).withColumn("n", F.size("hashes"))

    return _memo_cache(spark, sf_dir, "shingles", build)


def capped_postings(sh: DataFrame, cap: int = POSTING_DF_CAP) -> DataFrame:
    """Inverted index (doc_id, n, s) with hot postings removed: shingle
    hashes whose document frequency exceeds ``cap`` never enter candidate
    generation, so a corpus-wide boilerplate shingle cannot produce an m^2
    pair explosion. Window-free: df is a map-side-combinable count and the
    filter is a broadcastable semi-join complement."""
    inv = sh.select("doc_id", "n", F.explode("hashes").alias("s"))
    hot = (
        inv.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cap)
        .select("s")
    )
    return inv.join(F.broadcast(hot), "s", "left_anti")


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup ground truth: every pair sharing >= 1 (non-hot)
    shingle, kept if Jaccard >= 0.4.

    Two stages: df-capped inverted-index join generates candidate id
    pairs (the skew guard — a hot shingle's m-long posting list never
    becomes m^2 rows), then exact Jaccard over the FULL shingle sets
    verifies each candidate, so the cap cannot change a surviving pair's
    score. The capped index is memoized: the candidate self-join reads it
    on both branches, and without the cache each branch would re-run the
    df aggregate + anti-join."""
    sh = _hashed_shingles(spark, sf_dir)
    inv = _memo_cache(
        spark,
        sf_dir,
        f"capped_inv@{POSTING_DF_CAP}",
        lambda: capped_postings(sh),
    )
    # Length-ratio prune (guide §2.3 — decide with small metadata before
    # shipping payloads): |A∩B| <= min(|A|,|B|) and |A∪B| >= max(|A|,|B|),
    # so J >= t requires min(n_a,n_b) >= t*max(n_a,n_b). Pairs failing
    # that are guaranteed to fail the exact Jaccard filter, so dropping
    # them BEFORE the distinct + the array-shipping verify join changes
    # nothing — it only keeps provably-dead pairs out of the two most
    # expensive stages. n rides along as one int per posting row.
    a = inv.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"), "s")
    b = inv.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"), "s")
    cand = (
        a.join(b, "s")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("n_a", "n_b")
                >= F.lit(JACCARD_THRESHOLD) * F.greatest("n_a", "n_b")
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_candidates(cand, sh)


def _verify_candidates(cand: DataFrame, sig: DataFrame) -> DataFrame:
    """Join candidate id pairs to hashed shingle sets; exact Jaccard
    filter on long arrays (candidates only — never the full corpus)."""
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("hashes").alias("h_a"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("hashes").alias("h_b"))
    jacc = F.size(F.array_intersect("h_a", "h_b")) / F.size(
        F.array_union("h_a", "h_b")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        # cheap length-ratio gate first: a pair with min/max size ratio
        # below the threshold cannot reach J >= t, so the interpreted
        # array_intersect/array_union never runs for it (exact — every
        # dropped pair would fail the jaccard filter anyway)
        .filter(
            F.least(F.size("h_a"), F.size("h_b"))
            >= F.lit(JACCARD_THRESHOLD) * F.greatest(F.size("h_a"), F.size("h_b"))
        )
        .withColumn("raw_j", jacc)
        .filter(F.col("raw_j") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", F.round("raw_j", 6).alias("jaccard"))
    )


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH: 16 permutations, 8 bands x 2 rows; band-bucket join
    produces candidates, exact Jaccard verifies. Output schema matches
    the ground-truth query so recall is directly measurable."""
    # Signature table: computed once, read by band join + verify. The 16
    # permutation minima run vectorized in numpy via mapInArrow
    # (guide §4.2) — the Column form (sketches.minhash_signature)
    # re-hashes every shingle 16x through interpreted transform lambdas;
    # the numpy XXH64 is bit-identical to Spark's xxhash64 (gated by
    # tests/test_sketches.py::test_minhash_arrow_matches_column_form).
    # Banding stays JVM-side: 8 short-string hashes over |docs| rows.
    sig = _memo_cache(
        spark,
        sf_dir,
        "minhash_sig",
        lambda: _hashed_shingles(spark, sf_dir)
        .select("doc_id", "hashes")
        .mapInArrow(
            minhash_batches,
            "doc_id bigint, hashes array<bigint>, mins array<bigint>",
        )
        .select("doc_id", "hashes", band_values(F.col("mins")).alias("bands")),
    )
    banded = sig.select("doc_id", F.posexplode("bands").alias("band_idx", "band_val"))
    left = banded.select(F.col("doc_id").alias("id_a"), "band_idx", "band_val")
    right = banded.select(F.col("doc_id").alias("id_b"), "band_idx", "band_val")
    cand = (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_candidates(cand, sig)


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 64-bit signature over shingle hashes; pairs sharing any
    16-bit chunk are candidates; keep hamming distance <= 3 (pigeonhole
    guarantees recall is exact for that radius)."""
    # Bit-vote signature: compute once (not per join branch), vectorized
    # in numpy via mapInArrow (guide §4.2) — the Column-expression form
    # (sketches.simhash64) evaluates the 64-wide vote lambda interpreted
    # per shingle and measured ~1.7 s at sf0.1 vs ~0.45 s vectorized;
    # signatures are integer-exact identical (gated by
    # tests/test_sketches.py::test_simhash_arrow_matches_column_form).
    # Only (doc_id, hashes) crosses the Python boundary (§4.1 pruning).
    sig = _memo_cache(
        spark,
        sf_dir,
        "simhash_sig",
        lambda: _hashed_shingles(spark, sf_dir)
        .select("doc_id", "hashes")
        .mapInArrow(simhash_batches, "doc_id bigint, sig bigint"),
    )
    chunked = sig.select(
        "doc_id", "sig", F.posexplode(simhash_chunks(F.col("sig"))).alias("ci", "cv")
    )
    a = chunked.select(
        F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"), "ci", "cv"
    )
    b = chunked.select(
        F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"), "ci", "cv"
    )
    return (
        a.join(b, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


QUERIES = {
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "minhash_near_dups": q_minhash_near_dups,
    "simhash_near_dups": q_simhash_near_dups,
}

_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len(t) - {km1}), "
    "i -> list_reduce(t[i:i + {km1}], (a, b) -> a || ' ' || b)))"
).format(km1=SHINGLE_K - 1)

ORACLES = {
    "ngram_jaccard_pairs": f"""
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        ),
        sh AS (
            SELECT doc_id, {_SHINGLES} AS shingles
            FROM toks WHERE len(t) >= {SHINGLE_K}
        ),
        inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        -- identical df-cap to the Spark plan: hot shingles never generate
        -- candidates (verification below still uses full shingle sets)
        cold AS (
            SELECT doc_id, s FROM inv
            WHERE s NOT IN (
                SELECT s FROM inv GROUP BY s HAVING count(*) > {POSTING_DF_CAP}
            )
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                     / len(list_distinct(x.shingles || y.shingles)), 6) AS jaccard
        FROM cand
        JOIN sh x ON cand.id_a = x.doc_id
        JOIN sh y ON cand.id_b = y.doc_id
        WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
              / len(list_distinct(x.shingles || y.shingles)) >= {JACCARD_THRESHOLD}
    """,
}
