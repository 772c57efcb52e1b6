"""Property tests for the rows-only (non-SQL-oracle) queries: sketch-based
dedup, ANN search, and HLL distinct counts. Each is validated against the
corresponding exact, oracle-verified query."""

from .conftest import SF_DIR


def _rows(entry_mod, spark, name):
    return entry_mod.queries()[name](spark, SF_DIR).collect()


def test_minhash_subset_and_recall(spark, entry_mod):
    exact = {(r.id_a, r.id_b) for r in _rows(entry_mod, spark, "ngram_jaccard_pairs")}
    mh = {(r.id_a, r.id_b) for r in _rows(entry_mod, spark, "minhash_near_dups")}
    assert mh <= exact, "minhash emitted a pair the exact Jaccard filter rejects"
    assert len(exact) > 0, "fixture has no near-dup pairs; test is vacuous"
    recall = len(mh & exact) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall:.2f} below floor"


def test_minhash_jaccard_values_match_exact(spark, entry_mod):
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in _rows(entry_mod, spark, "ngram_jaccard_pairs")
    }
    for r in _rows(entry_mod, spark, "minhash_near_dups"):
        assert exact[(r.id_a, r.id_b)] == r.jaccard


def test_simhash_pairs_are_near_dups(spark, entry_mod):
    exact = {(r.id_a, r.id_b) for r in _rows(entry_mod, spark, "ngram_jaccard_pairs")}
    sh = _rows(entry_mod, spark, "simhash_near_dups")
    assert len(sh) > 0
    for r in sh:
        assert 0 <= r.hamming <= 3
        assert (r.id_a, r.id_b) in exact, (
            f"simhash pair ({r.id_a},{r.id_b}) hamming={r.hamming} "
            "is not a true near-dup"
        )


def test_simhash_arrow_matches_column_form(spark, entry_mod):
    """The vectorized mapInArrow simhash (r22) must produce bit-identical
    signatures to the reference Column-expression fold — the majority
    vote is integer arithmetic, so there is no tolerance."""
    from pyspark.sql import functions as F

    from social_media_big_data_analyzer_spark.operators.sketches import (
        simhash64,
        simhash_batches,
    )
    from social_media_big_data_analyzer_spark.queries import dedup as dd

    sh = dd._hashed_shingles(spark, SF_DIR)
    column_form = {
        r.doc_id: r.sig
        for r in sh.select("doc_id", simhash64(F.col("hashes")).alias("sig")).collect()
    }
    arrow_form = {
        r.doc_id: r.sig
        for r in sh.select("doc_id", "hashes")
        .mapInArrow(simhash_batches, "doc_id bigint, sig bigint")
        .collect()
    }
    assert len(column_form) > 0
    assert arrow_form == column_form


def test_minhash_arrow_matches_column_form(spark, entry_mod):
    """The vectorized numpy XXH64 minhash (r22) must reproduce the
    Column-expression signature exactly — same Spark XXH64 values, same
    signed-long minima, no tolerance."""
    from pyspark.sql import functions as F

    from social_media_big_data_analyzer_spark.operators.sketches import (
        minhash_batches,
        minhash_signature,
    )
    from social_media_big_data_analyzer_spark.queries import dedup as dd

    sh = dd._hashed_shingles(spark, SF_DIR)
    column_form = {
        r.doc_id: list(r.sig)
        for r in sh.select(
            "doc_id", minhash_signature(F.col("hashes")).alias("sig")
        ).collect()
    }
    arrow_form = {
        r.doc_id: list(r.mins)
        for r in sh.select("doc_id", "hashes")
        .mapInArrow(
            minhash_batches,
            "doc_id bigint, hashes array<bigint>, mins array<bigint>",
        )
        .collect()
    }
    assert len(column_form) > 0
    assert arrow_form == column_form


def test_ann_lsh_recall_floor(spark, entry_mod):
    cos = {(r.probe_id, r.vec_id) for r in _rows(entry_mod, spark, "cosine_topk")}
    ann = {(r.probe_id, r.vec_id) for r in _rows(entry_mod, spark, "ann_lsh_topk")}
    recall = len(ann & cos) / len(cos)
    assert recall >= 0.6, f"ann recall {recall:.2f} below floor"
    # every probe must at least find itself at rank 1
    self_rows = [
        r for r in _rows(entry_mod, spark, "ann_lsh_topk") if r.probe_id == r.vec_id
    ]
    assert all(r.rank == 1 and r.cos == 1.0 for r in self_rows)


def test_approx_distinct_within_tolerance(spark, entry_mod, duck):
    approx = {
        r.event_type: r.approx_users
        for r in _rows(entry_mod, spark, "approx_distinct_users")
    }
    exact = dict(
        duck.execute(
            "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1"
        ).fetchall()
    )
    assert approx.keys() == exact.keys()
    for k, est in approx.items():
        rel_err = abs(est - exact[k]) / max(exact[k], 1)
        assert rel_err <= 0.1, f"{k}: approx {est} vs exact {exact[k]}"


def test_simhash_arrow_rejects_empty_hash_set():
    """A trailing empty hash list has no segment for ``reduceat``; the
    kernel must name the fault like ``minhash_batches`` does."""
    import pyarrow as pa
    import pytest

    from social_media_big_data_analyzer_spark.operators.sketches import simhash_batches

    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([1, 2], type=pa.int64()),
            pa.array([[11, 12, 13], []], type=pa.list_(pa.int64())),
        ],
        ["doc_id", "hashes"],
    )
    with pytest.raises(ValueError, match="empty hash set"):
        list(simhash_batches(iter([batch])))


def test_xxh64_long_wraps_without_overflow_error(spark):
    """uint64 wrap-around is the algorithm, so the kernel must not depend on
    its caller's numpy error state; the value must equal Spark's
    ``xxhash64`` of the long."""
    import numpy as np

    from social_media_big_data_analyzer_spark.operators.sketches import _xxh64_long

    with np.errstate(over="raise"):
        got = _xxh64_long(np.uint64(2**63 + 12345), np.uint64(42)).view(np.int64)
    want = spark.sql("SELECT xxhash64(CAST(-9223372036854763463 AS BIGINT)) AS h").first().h
    assert int(got) == want
