"""Sketch builders for near-duplicate detection: word shingles, MinHash
signatures, SimHash bit signatures (SURVEY §2.2 C23; LLM-pipeline dedup
mandate).

The Column-expression builders compute signatures from ``xxhash64`` of
shingles; ``minhash_batches`` and ``simhash_batches`` are their bit-exact
numpy twins for ``mapInArrow``, which the dedup queries run.

100 TB shape: a signature is O(k) longs per document regardless of
document size, so dedup shuffles signatures (bytes) instead of documents
(kilobytes). Candidate generation is an equi-join on band values — a plain
shuffle join on well-spread keys; frequent-band skew is handled by AQE
skew-join splitting, and pathological bands (the empty-document band) can
be df-capped before the join.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SHINGLE_K = 5
MINHASH_PERMS = 16
MINHASH_BANDS = 8  # r = 2 rows per band


def hashed_word_shingles(tokens: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-shingles of a *token array* column, as xxhash64 longs.

    Hashes the k token elements directly (multi-arg ``xxhash64``) instead
    of materializing the joined shingle string — higher-order-function
    lambdas evaluate interpreted (outside whole-stage codegen), so every
    per-element string slice/concat avoided is a real win. The token→
    space-joined-string map is injective (tokens cannot contain the
    separator), so distinct-count semantics match the string form
    exactly; only the hash values differ, and every consumer in this
    package treats them as an opaque ID universe.

    Pass a *materialized* token column (its own projection), not an
    inline ``split(...)`` — otherwise the split re-evaluates per lambda
    reference.
    """
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (k - 1)),
            lambda i: F.xxhash64(*[F.element_at(tokens, i + j) for j in range(k)]),
        )
    )


def _perm(i: int):
    # Closure factory: a default-arg lambda would change the introspected
    # arity of the higher-order-function lambda and break F.transform.
    # The i-th hash function is xxhash64 seeded by position — a standard
    # independent-hash family with no overflow (ANSI mode forbids
    # wrap-around long multiply).
    def fn(h: Column) -> Column:
        return F.xxhash64(F.lit(i), h)

    return fn


def minhash_signature(hashes: Column) -> Column:
    """Array of MINHASH_PERMS minimum re-hashed values."""
    sig = [F.array_min(F.transform(hashes, _perm(i))) for i in range(MINHASH_PERMS)]
    return F.array(*sig)


# Spark's XXH64 (sql/catalyst XXH64.java) vectorized in numpy uint64 —
# bit-for-bit the same values as the `xxhash64` SQL function, which is
# what makes the Arrow minhash below exactly interchangeable with the
# Column form (gated by tests/test_sketches.py::
# test_minhash_arrow_matches_column_form).
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _xxh64_fmix(h):
    import numpy as np

    with np.errstate(over="ignore"):  # uint64 wrap-around is the algorithm
        h ^= h >> np.uint64(33)
        h *= np.uint64(_XXH_P2)
        h ^= h >> np.uint64(29)
        h *= np.uint64(_XXH_P3)
        h ^= h >> np.uint64(32)
        return h


def _xxh64_long(inp_u64, seed_u64):
    """XXH64 of one 8-byte (long) input — Spark XXH64.hashLong."""
    import numpy as np

    r31, r27 = np.uint64(31), np.uint64(27)
    with np.errstate(over="ignore"):  # uint64 wrap-around is the algorithm
        h = seed_u64 + np.uint64(_XXH_P5) + np.uint64(8)
        k1 = inp_u64 * np.uint64(_XXH_P2)
        k1 = (k1 << r31) | (k1 >> np.uint64(33))
        k1 *= np.uint64(_XXH_P1)
        h = h ^ k1
        h = ((h << r27) | (h >> np.uint64(37))) * np.uint64(_XXH_P1) + np.uint64(_XXH_P4)
        return _xxh64_fmix(h)


def _xxh64_int(i: int, seed: int):
    """XXH64 of one 4-byte (int) input — Spark XXH64.hashInt. The perm
    index literal is an IntegerType, so the chained seed uses this path."""
    import numpy as np

    with np.errstate(over="ignore"):  # uint64 wrap-around is the algorithm
        h = np.uint64(seed) + np.uint64(_XXH_P5) + np.uint64(4)
        h = h ^ (np.uint64(np.uint32(i)) * np.uint64(_XXH_P1))
        h = ((h << np.uint64(23)) | (h >> np.uint64(41))) * np.uint64(
            _XXH_P2
        ) + np.uint64(_XXH_P3)
        return _xxh64_fmix(h)


def minhash_batches(it):
    """``mapInArrow`` body computing :func:`minhash_signature` vectorized
    in numpy: input ``(doc_id, hashes array<bigint>)``, output the same
    plus ``mins array<bigint>`` (the 16-permutation signature).

    Guide §4.2: the Column form re-hashes every shingle 16 times through
    an interpreted transform lambda (~16·n evaluations + 16 array allocs
    per document). Here each permutation is ONE vectorized XXH64 pass
    over the batch's contiguous int64 hash buffer plus a
    ``minimum.reduceat`` (signed-long min, matching ``array_min``).
    ``hashes`` passes through untouched so the verify join never needs a
    join back to the shingle table.
    """
    import numpy as np
    import pyarrow as pa

    seeds = [_xxh64_int(i, 42) for i in range(MINHASH_PERMS)]
    for batch in it:
        doc_ids = batch.column(0)
        lists = batch.column(1)
        if isinstance(lists, pa.ChunkedArray):  # pragma: no cover
            lists = lists.combine_chunks()
        lengths = lists.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
        values = lists.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
        n_docs = len(lengths)
        if (lengths == 0).any():
            # the shingle table guarantees >= 1 shingle per doc; an empty
            # set has no minimum (the Column form yields NULL) — fail
            # loudly rather than fabricate a signature
            raise ValueError("minhash_batches: empty hash set")
        u = values.view(np.uint64)
        starts = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(lengths[:-1], out=starts[1:])
        mins = np.empty((n_docs, MINHASH_PERMS), dtype=np.int64)
        for i in range(MINHASH_PERMS):
            h = _xxh64_long(u, seeds[i]).view(np.int64)
            mins[:, i] = np.minimum.reduceat(h, starts) if n_docs else h[:0]
        offsets = pa.array(
            np.arange(0, (n_docs + 1) * MINHASH_PERMS, MINHASH_PERMS, dtype=np.int32)
        )
        mins_arr = pa.ListArray.from_arrays(
            offsets, pa.array(mins.ravel(), type=pa.int64())
        )
        yield pa.RecordBatch.from_arrays(
            [doc_ids, lists, mins_arr], ["doc_id", "hashes", "mins"]
        )


def band_values(sig: Column, bands: int = MINHASH_BANDS) -> Column:
    """Array of per-band values (r = perms/bands rows hashed together)."""
    r = MINHASH_PERMS // bands
    return F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",", *[sig.getItem(band * r + j).cast("string") for j in range(r)]
                )
            )
            for band in range(bands)
        ]
    )


# bit 63's mask is signed long min — bitwiseOR-combining disjoint masks
# sidesteps ANSI overflow on the top bit.
_SIMHASH_MASKS = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]


def simhash64(hashes: Column) -> Column:
    """64-bit SimHash of a hash array: bit b is set iff the sum of
    (+1 / -1) votes from each element's bit b is positive.

    Single ``aggregate`` pass with a 64-wide vote-array accumulator
    (``zip_with`` against the mask array), not 64 per-bit passes: HOF
    lambdas evaluate interpreted, and the one-pass form also generates a
    ~64x smaller expression tree, which cuts first-run codegen/compile
    from seconds to negligible.
    """
    masks = F.array(*[F.lit(m).cast("long") for m in _SIMHASH_MASKS])

    def vote(acc: Column, h: Column) -> Column:
        return F.zip_with(
            acc, masks, lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
        )

    votes = F.aggregate(hashes, F.array_repeat(F.lit(0), 64), vote)
    bits = F.zip_with(
        votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda a, b: a.bitwiseOR(b))


def simhash_batches(it):
    """``mapInArrow`` body computing :func:`simhash64` vectorized in
    numpy: input batches of ``(doc_id, hashes array<bigint>)``, output
    ``(doc_id, sig bigint)``.

    Guide §4.2 (hand whole batches to vectorized native code): the
    Column form runs the 64-wide vote lambda interpreted per element —
    ~64·n lambda evaluations and n array allocations per document. Here
    the whole batch's hash values are one contiguous int64 buffer:
    ``unpackbits`` produces the (values x 64) bit matrix, per-document
    bit counts are one ``reduceat``, and the majority vote
    ``votes_b > 0  <=>  2*count_b > n`` packs back into an int64.

    Bit-exactness: the vote for bit b is the integer
    ``2*(#elements with bit b set) - n``; integers compare exactly, so
    the signature is identical to the sequential fold's, bit for bit
    (asserted by tests/test_sketches.py::test_simhash_arrow_matches_column_form).
    """
    import numpy as np
    import pyarrow as pa

    for batch in it:
        doc_ids = batch.column(0)
        lists = batch.column(1)
        if isinstance(lists, pa.ChunkedArray):  # pragma: no cover
            lists = lists.combine_chunks()
        # flatten()/value_lengths() are slice-safe (a sliced ListArray's
        # raw .values/.offsets buffers are not).
        lengths = lists.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
        values = lists.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
        n_docs = len(lengths)
        if (lengths == 0).any():
            # the shingle table guarantees >= 1 shingle per doc; reduceat
            # cannot sum an empty segment (it reads the next doc's first
            # row, or raises IndexError at the end) — fail loudly instead
            raise ValueError("simhash_batches: empty hash set")
        bits = np.unpackbits(
            values.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        ).astype(np.int64)
        starts = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(lengths[:-1], out=starts[1:])
        counts = np.add.reduceat(bits, starts, axis=0)
        sig_bits = (2 * counts) > lengths[:, None]
        packed = np.zeros(n_docs, dtype=np.uint64)
        for b in range(64):
            packed |= sig_bits[:, b].astype(np.uint64) << np.uint64(b)
        sig = packed.view(np.int64)
        yield pa.RecordBatch.from_arrays(
            [doc_ids, pa.array(sig, type=pa.int64())], ["doc_id", "sig"]
        )


def simhash_chunks(sig: Column, n_chunks: int = 4) -> Column:
    """Split a 64-bit signature into 16-bit chunks (pigeonhole banding:
    hamming <= n_chunks - 1 guarantees at least one equal chunk)."""
    return F.array(
        *[
            F.shiftrightunsigned(sig, 16 * c).bitwiseAND(F.lit(0xFFFF)).cast("int")
            for c in range(n_chunks)
        ]
    )
