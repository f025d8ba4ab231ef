"""Driver-harness compatibility layer (round-5 VERDICT items 1-2).

The per-round driver canonicalizes query results with pandas
``sort_values`` and hashes raw pandas values, which is stricter than
the tuple-based check in tools/check_correctness.py: ARRAY output
columns err, and oracle dtype drift (DuckDB HUGEINT -> float64)
breaks the value hash on numerically equal results. These tests pin
the lint that keeps both classes out of the 50-entry driver window.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pyspark.sql.functions as F
import pytest

from mapreduce_assignments_spark import workloads
from mapreduce_assignments_spark.harness_compat import (
    lint_spark_schema,
    pandas_canon,
    pandas_canon_compare,
)


def test_lint_flags_seeded_array_output(spark):
    """A window query emitting ARRAY columns must fail the lint —
    exactly the round-5 hashing_tf failure."""
    df = spark.range(3).select(
        "id", F.array(F.lit(1), F.lit(2)).alias("indices")
    )
    issues = lint_spark_schema(df)
    assert len(issues) == 1 and "indices" in issues[0]
    assert "array" in issues[0]


def test_lint_flags_map_and_struct(spark):
    df = spark.range(1).select(
        F.create_map(F.lit("k"), F.lit(1)).alias("m"),
        F.struct(F.lit(1).alias("a")).alias("s"),
    )
    assert len(lint_spark_schema(df)) == 2


def test_lint_passes_scalar_schema(spark):
    df = spark.range(3).select(
        "id", F.lit("x").alias("s"), F.lit(1.5).alias("d")
    )
    assert lint_spark_schema(df) == []


def test_canon_compare_catches_hugeint_dtype_drift():
    """DuckDB sum(BIGINT) -> HUGEINT -> pandas float64: numerically
    equal to Spark's int64 but a different value hash — the round-5
    bpe_merges/bpe_vocab red rows. The compare must flag it and name
    the CAST remedy."""
    con = duckdb.connect()
    uncast = con.execute(
        "SELECT CAST(k AS BIGINT) AS k, sum(v) AS total FROM"
        " (VALUES (1, 5), (1, 6), (2, 7)) t(k, v) GROUP BY k ORDER BY k"
    ).df()
    assert str(uncast["total"].dtype) == "float64"  # the drift itself
    spark_side = pd.DataFrame({"k": [1, 2], "total": [11, 7]})
    assert str(spark_side["total"].dtype) == "int64"
    issues = pandas_canon_compare(spark_side, uncast)
    assert len(issues) == 1 and "dtype drift" in issues[0]
    assert "CAST" in issues[0]

    cast = con.execute(
        "SELECT CAST(k AS BIGINT) AS k, CAST(sum(v) AS BIGINT) AS total"
        " FROM (VALUES (1, 5), (1, 6), (2, 7)) t(k, v) GROUP BY k"
        " ORDER BY k"
    ).df()
    assert pandas_canon_compare(spark_side, cast) == []


def test_canon_compare_is_row_order_insensitive():
    a = pd.DataFrame({"k": [2, 1], "v": ["b", "a"]})
    b = pd.DataFrame({"v": ["a", "b"], "k": [1, 2]})
    assert pandas_canon_compare(a, b) == []


def test_canon_compare_detects_value_difference():
    a = pd.DataFrame({"k": [1, 2], "v": [10, 20]})
    b = pd.DataFrame({"k": [1, 2], "v": [10, 21]})
    issues = pandas_canon_compare(a, b)
    assert issues and "v" in issues[0]


def test_canon_raises_like_driver_on_list_cells():
    pdf = pd.DataFrame({"k": [1, 2], "arr": [[1, 2], [3]]})
    with pytest.raises(TypeError):
        pandas_canon(pdf)


def test_canon_compare_tolerates_timestamp_resolution():
    """Spark toPandas yields datetime64[ns]; DuckDB .df() yields
    datetime64[us] — equal instants must compare clean."""
    ts = ["2024-01-01 00:00:00", "2024-01-02 12:30:00"]
    a = pd.DataFrame({"t": pd.to_datetime(ts).astype("datetime64[ns]")})
    b = pd.DataFrame({"t": pd.to_datetime(ts).astype("datetime64[us]")})
    assert pandas_canon_compare(a, b) == []


def test_every_window_query_schema_is_driver_sortable(spark, sf_dir):
    """The shape gate on the frozen 50-query driver window. No window
    query may output a driver-unsortable column (ARRAY/MAP/STRUCT), and
    the window's timestamp columns are exactly the pinned ones: a
    timestamp renders through the session time zone and the driver runs
    an unconfigured session, so a new one must first pass
    ``check_correctness.py --vanilla-session --pandas-canon``."""
    bad, timestamps = {}, {}
    for name, fn in workloads.QUERIES.items():
        df = fn(spark, sf_dir)
        issues = lint_spark_schema(df)
        if issues:
            bad[name] = issues
        ts_cols = [
            f.name for f in df.schema.fields
            if f.dataType.simpleString().startswith("timestamp")
        ]
        if ts_cols:
            timestamps[name] = ts_cols
    assert not bad, f"driver-unsortable window queries: {bad}"
    assert timestamps == {"shipping_priority": ["o_orderdate"]}, (
        f"window timestamp columns changed: {timestamps}"
    )


def test_canon_compare_is_bit_exact_on_zero_sign():
    """Round-10 driver red: DuckDB round() emitted -0.0 where Spark
    emitted +0.0; Series.equals passed it (-0.0 == 0.0) while the
    driver's pd.util.hash_pandas_object hashes the sign bit. The
    compare must now reject sign-of-zero divergence."""
    a = pd.DataFrame({"k": [1, 2], "v": [0.0, 1.5]})
    b = pd.DataFrame({"k": [1, 2], "v": [-0.0, 1.5]})
    assert a["v"].equals(b["v"])  # the gap the old gate fell into
    issues = pandas_canon_compare(a, b)
    assert issues and "v" in issues[0] and "bit-exact" in issues[0]


def test_canon_compare_accepts_int_width_drift():
    """Round-11 VERDICT item 1: the old name-based dtype rule flagged
    ivf_assign (int32 cell) / language_id against int64 oracles even
    though the driver provably accepts them (green r2/r3/r4/r10 —
    pd.util.hash_pandas_object hashes equal non-negative ints
    identically across widths). Same-kind width drift must pass when
    the values hash-match."""
    a = pd.DataFrame({"k": pd.Series([1, 2], dtype="int32"),
                      "v": pd.Series([0, 5968], dtype="int32")})
    b = pd.DataFrame({"k": pd.Series([1, 2], dtype="int64"),
                      "v": pd.Series([0, 5968], dtype="int64")})
    assert pandas_canon_compare(a, b) == []


def test_canon_compare_still_rejects_int_vs_float():
    """Cross-kind drift (the REAL round-5 failure class) must still be
    flagged with the CAST remedy even when values are equal."""
    a = pd.DataFrame({"v": pd.Series([11, 7], dtype="int64")})
    b = pd.DataFrame({"v": pd.Series([11.0, 7.0], dtype="float64")})
    issues = pandas_canon_compare(a, b)
    assert len(issues) == 1 and "dtype drift" in issues[0]
    assert "CAST" in issues[0]


def test_canon_compare_rejects_negative_int_width_drift():
    """The kind-group rule is NOT a blanket amnesty: negative ints
    hash WIDTH-SENSITIVELY (int32 -3 != int64 -3 under
    hash_pandas_object), so the driver would reject this drift — and
    the bit-exact hash arbiter must too, naming the width-drift hint."""
    a = pd.DataFrame({"v": pd.Series([-3, 7], dtype="int32")})
    b = pd.DataFrame({"v": pd.Series([-3, 7], dtype="int64")})
    issues = pandas_canon_compare(a, b)
    assert issues and "bit-exact" in issues[0]
    assert "width drift" in issues[0]


def test_embedding_covariance_oracle_zero_sign_normalized_sf001():
    """Pin the exact round-10 failure cells: at sf0.01 the covariance
    cells (36,15), (58,47), (61,4) and transposes round to zero, and
    without the + 0.0 normalizer DuckDB emits -0.0 for them. The
    shipped oracle must emit +0.0 everywhere."""
    import numpy as np

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM"
        " read_parquet('/root/testdata/sf0.01/embeddings.parquet')"
    )
    sql = workloads.ORACLE["embedding_covariance"]
    df = con.execute(sql).df()
    cov = df["cov"].to_numpy()
    zeros = df[cov == 0.0]
    assert int(np.signbit(zeros["cov"].to_numpy()).sum()) == 0
    cells = set(zip(zeros["i"].tolist(), zeros["j"].tolist()))
    for cell in [(36, 15), (15, 36), (58, 47), (47, 58), (61, 4), (4, 61)]:
        assert cell in cells, f"expected zero cell {cell} missing"

    # the normalizer is load-bearing: stripping it reintroduces -0.0
    prefix = sql.replace("+ 0.0 AS cov", "AS cov")
    assert prefix != sql
    raw = con.execute(prefix).df()
    rc = raw["cov"].to_numpy()
    assert int(np.signbit(rc[rc == 0.0]).sum()) > 0
