"""Embedding similarity search over `embeddings` (C24; LLM-pipeline
similarity mandate).

- ``cosine_topk`` — brute-force cosine top-5 for each probe vector,
  entirely in JVM expressions (zip_with product, sequential double fold)
  so the oracle's explicit fold reproduces every double bit-for-bit.
- ``ann_lsh_topk`` — random-hyperplane LSH variant: 4 fixed signed
  hyperplanes bucket the vectors; top-5 is computed over buckets within
  Hamming radius 2 of the probe's bucket (multi-probe). Rows-only for
  the driver; tests/ asserts a recall floor against ``cosine_topk``.

100 TB shape: probes are broadcast (they are the small side by
construction); the brute-force scan is embarrassingly parallel over
vector partitions with a per-(input-partition, probe) top-k before the
final per-probe window, so the last exchange carries at most
partitions x probes x k rows instead of every scored row. The LSH
variant enumerates each probe's Hamming-radius-2 bucket set (11 buckets
over 4 planes) and equi-joins on ``bucket`` — a BroadcastHashJoin that
touches ~11/16 of the table on average, never a nested loop over every
(vector, probe) pair; the production path would also store bucket as a
partition column so probe lookups prune files entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table

TOP_K = 5
N_PLANES = 4
_DIM = 64

#: XOR masks enumerating every bucket within Hamming distance <= 2 of a
#: probe's bucket over N_PLANES=4 bit positions: the zero mask, the 4
#: single-bit masks, and the 6 two-bit masks (11 total).
_RADIUS2_MASKS: tuple[int, ...] = tuple(
    m for m in range(1 << N_PLANES) if bin(m).count("1") <= 2
)

# Deterministic +/-1 hyperplanes — signs from md5 of (plane, dim), so the
# planes are fixed, independent, and free of the arithmetic-parity
# degeneracy a linear formula would have (no runtime randomness either).
import hashlib as _hashlib  # noqa: E402

PLANES = [
    [
        1 if int(_hashlib.md5(f"{p},{d}".encode()).hexdigest(), 16) & 1 else -1
        for d in range(_DIM)
    ]
    for p in range(N_PLANES)
]


def _dcast(c: Column) -> Column:
    return c.cast("double")


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold double dot product — order-deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _dcast(x) * _dcast(y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + _dcast(v) * _dcast(v))
    )


def _nonzero_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with their norm ``nrm``, zero vectors dropped.

    Cosine is undefined for a zero vector: the division would raise
    DIVIDE_BY_ZERO under ANSI, and DuckDB would return NULL. Both engines
    drop such vectors, as probes and as candidates. ``nrm > 0`` iff some
    component is nonzero (a sum of squares cannot cancel), so the oracle's
    ``sum of squares > 0`` keeps exactly the same rows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.withColumn("nrm", _norm(F.col("embedding"))).filter(F.col("nrm") > 0)


def _topk_per_probe(scored: DataFrame) -> DataFrame:
    """Exact per-probe top-k with a partial top-k first (guide §2.3
    "aggregate before you shuffle", applied to a window):

    1. keep the top-k of each (input partition, probe) — any row in the
       global top-k is by definition in its own partition's top-k under
       the same total order, so this drops no answer;
    2. the global per-probe window then receives at most
       partitions x probes x k rows instead of every scored row — the
       |probes|-partition funnel no longer sees the whole corpus.

    Ties are impossible (vec_id is unique in the order), so ranks of the
    surviving rows are identical to ranks computed over the full set.
    """
    pre = scored.withColumn("_pp", F.spark_partition_id())
    w_pre = Window.partitionBy("_pp", "probe_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    pruned = (
        pre.withColumn("_pk", F.row_number().over(w_pre))
        .filter(F.col("_pk") <= TOP_K)
        .drop("_pp", "_pk")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "vec_id", F.round("cos", 6).alias("cos"), "rank")
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norms are precomputed per ROW before the cross join (they'd
    # otherwise be re-folded once per PAIR — 2x|probes| redundant passes
    # per vector). dot/(na*nb) multiplies the same doubles in the same
    # order, so results are bit-identical to the inline form.
    emb = _nonzero_embeddings(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
        F.col("nrm").alias("probe_nrm"),
    )
    scored = emb.crossJoin(F.broadcast(probes)).select(
        "probe_id",
        "vec_id",
        (
            _dot(F.col("probe_vec"), F.col("embedding"))
            / (F.col("probe_nrm") * F.col("nrm"))
        ).alias("cos"),
    )
    return _topk_per_probe(scored)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k with multi-probe candidate
    generation. Rows-only (bucketing is engine-specific float math)."""
    emb = _nonzero_embeddings(spark, sf_dir)
    bucket_expr = None
    for p in range(N_PLANES):
        plane = F.array(*[F.lit(v) for v in PLANES[p]])
        bit = F.when(_dot(F.col("embedding"), plane) >= 0, 1).otherwise(0)
        contrib = bit * F.lit(1 << p)
        bucket_expr = contrib if bucket_expr is None else bucket_expr + contrib
    bucketed = emb.withColumn("bucket", bucket_expr)
    probes = bucketed.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
        F.col("bucket").alias("probe_bucket"),
        F.col("nrm").alias("probe_nrm"),
    )
    # Multi-probe radius 2: scan buckets differing in at most two planes.
    # With near-orthogonal vectors the per-plane collision probability is
    # ~0.6, so radius 2 is what lifts recall to ~0.8 — the classic
    # quality-vs-scanned-fraction dial (tests/ asserts the recall floor).
    #
    # Each probe is exploded into its C(4,0)+C(4,1)+C(4,2) = 11 buckets
    # within Hamming radius 2, and the join is an EQUI-join on `bucket`
    # (BroadcastHashJoin). The previous form — a raw
    # `bit_count(bucket XOR probe_bucket) <= 2` predicate — planned as a
    # BroadcastNestedLoopJoin that evaluated every (vector, probe) pair,
    # which made the LSH bucketing buy nothing at scale (guide §3.1).
    # `bucket XOR probe_bucket` takes exactly one value per pair, so the
    # exploded join produces each qualifying pair exactly once: the result
    # is row-for-row identical to the predicate form.
    probe_buckets = probes.select(
        "probe_id",
        "probe_vec",
        "probe_nrm",
        F.explode(
            F.array(
                *[
                    F.col("probe_bucket").bitwiseXOR(F.lit(m))
                    for m in _RADIUS2_MASKS
                ]
            )
        ).alias("bucket"),
    )
    scored = bucketed.join(F.broadcast(probe_buckets), "bucket").select(
        "probe_id",
        "vec_id",
        (
            _dot(F.col("probe_vec"), F.col("embedding"))
            / (F.col("probe_nrm") * F.col("nrm"))
        ).alias("cos"),
    )
    return _topk_per_probe(scored)


QUERIES = {
    "cosine_topk": q_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
}

_FOLD_DOT = (
    "list_sum(list_transform(generate_series(1, {dim}), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _sql_cos(a: str, b: str) -> str:
    dot = _FOLD_DOT.format(dim=_DIM, a=a, b=b)
    na = _FOLD_DOT.format(dim=_DIM, a=a, b=a)
    nb = _FOLD_DOT.format(dim=_DIM, a=b, b=b)
    return f"{dot} / (sqrt({na}) * sqrt({nb}))"


ORACLES = {
    "cosine_topk": f"""
        WITH nonzero AS (
            SELECT * FROM embeddings
            WHERE {_FOLD_DOT.format(dim=_DIM, a='embedding', b='embedding')} > 0
        ),
        probes AS (
            SELECT vec_id AS probe_id, embedding AS probe_vec
            FROM nonzero WHERE vec_id % 100 = 0
        ),
        scored AS (
            SELECT probe_id, vec_id,
                   {_sql_cos('probe_vec', 'embedding')} AS cos
            FROM nonzero CROSS JOIN probes
        )
        SELECT probe_id, vec_id, round(cos, 6) AS cos, rank
        FROM (
            SELECT probe_id, vec_id, cos,
                   row_number() OVER (PARTITION BY probe_id
                       ORDER BY cos DESC, vec_id ASC) AS rank
            FROM scored
        )
        WHERE rank <= {TOP_K}
    """,
}
