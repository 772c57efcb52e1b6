"""Oracle-parity tests: every `queries()` entry must match its `oracle_sql()`
twin on DuckDB at sf0.001 — same comparison the round driver performs
(row count, sorted column names, order-insensitive normalized values)."""

import os

import pytest

from social_media_big_data_analyzer_spark.queries import REGISTRY
from tools.oracle_check import duck_views, oracle_mismatch, spark_rows

from .conftest import SF_DIR


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, entry_mod, duck):
    cols, srows = spark_rows(entry_mod.queries()[name](spark, SF_DIR))
    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        pytest.skip(f"{name}: rows-only (no SQL oracle)")
    why = oracle_mismatch(cols, srows, duck, oracle)
    assert why is None, why


def test_entry_returns_rows(spark, entry_mod):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["word", "cnt"]


def test_stop_after_cumsum_value_nonnegative_precondition(duck):
    """stop_after_cumsum's day-prefix prune is only exact when
    events.value is nonnegative (the running sum must be monotone so the
    qualifying rows form a day-prefix). Enforce the precondition loudly:
    a dataset violating it must fail here, not silently drop rows."""
    (vmin,) = duck.execute("SELECT min(value) FROM events").fetchone()
    assert vmin is not None and vmin >= 0.0, (
        f"events.value has negative values (min={vmin}); the "
        "stop_after_cumsum prefix prune is invalid on this data"
    )


def test_ingest_doc_id_unique_precondition(duck):
    """ingest_tagged_records collapses matches with groupBy(doc_id) +
    first(text), which assumes doc_id is unique in documents. Make the
    assumption explicit: duplicate doc_ids with differing text would
    previously yield two rows and now pick one arbitrarily."""
    (n_dup,) = duck.execute(
        "SELECT count(*) FROM (SELECT doc_id FROM documents "
        "GROUP BY doc_id HAVING count(*) > 1)"
    ).fetchone()
    assert n_dup == 0, f"{n_dup} duplicate doc_ids in documents"


def test_running_revenue_decimal_oracle_matches_legacy_double(duck):
    """The r21 running_revenue oracle moved from a double prefix sum to
    exact DECIMAL(12,2) in the same commit as the query (both-sides
    edit). Pin the equivalence the change relied on: at the test SF the
    decimal and legacy-double oracles agree after round(. , 2)."""
    decimal_rows = duck.execute(
        """
        SELECT o_orderkey,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                   ORDER BY o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE), 2) AS running_total
        FROM orders ORDER BY o_orderkey
        """
    ).fetchall()
    double_rows = duck.execute(
        """
        SELECT o_orderkey,
               round(sum(o_totalprice) OVER (
                   ORDER BY o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_total
        FROM orders ORDER BY o_orderkey
        """
    ).fetchall()
    assert decimal_rows == double_rows


def test_zero_vectors_are_excluded(spark, entry_mod, tmp_path):
    """A zero-norm embedding has no cosine. Both engines drop it, as probe
    and as candidate, instead of raising DIVIDE_BY_ZERO (Spark under ANSI)
    or scoring NULL (DuckDB)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"))
    zeroed = {100, 7}  # one probe (vec_id % 100 == 0) and one non-probe
    field = t.schema.field("embedding")
    vecs = [
        [0.0] * len(v) if i in zeroed else v
        for i, v in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
    ]
    t = t.set_column(t.schema.get_field_index("embedding"), field, pa.array(vecs, field.type))
    pq.write_table(t, tmp_path / "embeddings.parquet")
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()

    cols, srows = spark_rows(qs["cosine_topk"](spark, str(tmp_path)))
    why = oracle_mismatch(cols, srows, duck_views(str(tmp_path)), oracles["cosine_topk"])
    assert why is None, why

    ann = qs["ann_lsh_topk"](spark, str(tmp_path)).collect()
    assert ann
    assert not zeroed & ({r.probe_id for r in ann} | {r.vec_id for r in ann})
