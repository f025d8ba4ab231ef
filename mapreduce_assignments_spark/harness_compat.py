"""Driver-harness compatibility checks for driver-window queries.

The per-round driver compares each registered query against its DuckDB
oracle by converting BOTH results to pandas and canonicalizing with
``sort_values`` before value-hashing. That contract is stricter than
plain value equality, and two classes of exact-answer queries have
failed it historically (round 5):

1. ARRAY/MAP/STRUCT output columns — pandas ``sort_values`` raises
   ``TypeError: unhashable type: 'list'`` on list cells, so the driver
   records an err row even though every value matches.
2. dtype drift — DuckDB ``sum(BIGINT)`` returns HUGEINT, which pandas
   renders as float64; the driver then hashes ``5968.0`` against
   Spark's int64 ``5968`` and records hash_match=false.

This module replicates the driver's canonicalization faithfully enough
to keep both classes out of the frozen 50-query driver window
(``workloads.DRIVER_WINDOW``):

- :func:`lint_spark_schema` — flags driver-unsortable output columns.
- :func:`pandas_canon` — the driver-style canonical frame (columns
  sorted by name, rows sorted by all columns, index dropped).
- :func:`pandas_canon_compare` — dtype equality + canonical value
  equality between the Spark result and the oracle result, both as
  pandas frames; returns a list of human-readable issues (empty =
  driver-compatible).

Used by ``tools/check_correctness.py --pandas-canon``, which screens
every query it checks (the whole registry with ``--all``), and by the
pytest suite, which gates the window's output shapes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

__all__ = ["lint_spark_schema", "pandas_canon", "pandas_canon_compare"]

# type prefixes pandas sort_values cannot order (unhashable cells) —
# exactly the shapes that crashed the driver canonicalizer in round 5
_UNSORTABLE_PREFIXES = ("array", "map", "struct")


def _kind_group(dtype) -> str:
    """Collapse a numpy dtype kind into the groups that matter for the
    driver's value hash. Empirically (pandas 2.2, this container):

    - equal NON-NEGATIVE ints hash identically across i/u/b widths
      (int32 vs int64, uint32 vs int64, bool vs int64 all agree), so
      {i, u, b} form one group;
    - int-vs-float ALWAYS differs (5968 vs 5968.0 hash apart), and
      float widths differ even for exactly-representable values, so
      'f' is its own group;
    - negative ints hash width-SENSITIVELY (int8 -3 != int64 -3), so
      same-group drift is still only provisionally safe — the
      bit-exact hash compare downstream is the real arbiter.
    """
    k = getattr(dtype, "kind", "O")
    return "i" if k in "iub" else k


def lint_spark_schema(df: DataFrame) -> list[str]:
    """Return one issue per output column whose Spark type would crash
    or destabilize the driver's pandas canonicalizer."""
    issues = []
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t.startswith(_UNSORTABLE_PREFIXES):
            issues.append(
                f"column '{f.name}' has driver-unsortable type {t} "
                "(pandas sort_values raises on unhashable cells)"
            )
    return issues


def pandas_canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize a result frame the way the driver does: columns
    sorted by name, rows sorted by every column, positional index.
    Raises (like the driver) if any column holds unhashable cells."""
    out = pdf[sorted(pdf.columns)]
    if len(out.columns):
        out = out.sort_values(by=list(out.columns), kind="mergesort")
    return out.reset_index(drop=True)


def pandas_canon_compare(
    spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame
) -> list[str]:
    """Driver-faithful comparison of a Spark result and a DuckDB
    oracle result (both already pandas). Returns issues; empty means
    the driver's rows/schema/value-hash checks would all pass."""
    issues: list[str] = []
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        return [f"schema mismatch: spark {s_cols} vs oracle {o_cols}"]
    if len(spark_pdf) != len(oracle_pdf):
        issues.append(
            f"row count {len(spark_pdf)} vs {len(oracle_pdf)}"
        )
    for c in s_cols:
        sd, od = str(spark_pdf[c].dtype), str(oracle_pdf[c].dtype)
        if sd.startswith("datetime64") and od.startswith("datetime64"):
            # resolution-only difference (Spark toPandas = ns, DuckDB
            # .df() = us): equal instants hash equal after pandas'
            # own comparison coercion — normalized below before canon
            continue
        sk, ok = _kind_group(spark_pdf[c].dtype), _kind_group(oracle_pdf[c].dtype)
        if sk != ok:
            # Cross-KIND drift (int vs float vs object) always breaks
            # the driver's value hash even for equal values — flag it
            # early with the actionable fix.
            issues.append(
                f"column '{c}' dtype drift: spark {sd} vs oracle {od} "
                "(the driver hashes raw pandas values, so float64 vs "
                "int64 breaks the value hash even when equal — CAST "
                "the oracle expression)"
            )
        # Same-kind width drift (int32 vs int64, float32 vs float64) is
        # NOT flagged here: pd.util.hash_pandas_object hashes equal
        # non-negative ints identically across widths, so the driver
        # accepts most such drift (ivf_assign/language_id were green in
        # r2/r3/r4/r10 with int32-vs-int64 drift). It is NOT universally
        # harmless — negative ints and non-representable float32 values
        # hash width-sensitively — so the bit-exact hash compare below
        # (the driver's own primitive) is the arbiter, exactly as the
        # driver would decide.
    if issues:
        return issues
    spark_pdf, oracle_pdf = spark_pdf.copy(), oracle_pdf.copy()
    for c in s_cols:
        if str(spark_pdf[c].dtype).startswith("datetime64"):
            spark_pdf[c] = spark_pdf[c].astype("datetime64[us]")
            oracle_pdf[c] = oracle_pdf[c].astype("datetime64[us]")
    try:
        sc = pandas_canon(spark_pdf)
        oc = pandas_canon(oracle_pdf)
    except TypeError as e:  # unhashable cells — the driver errs here
        return [f"driver canonicalization would fail: {e}"]
    # Bit-exact compare via the driver's own hash primitive.
    # Series.equals treats -0.0 == +0.0 as equal, but the driver's
    # pd.util.hash_pandas_object hashes the raw sign bit — round 10
    # shipped "re-gated exact" on exactly that gap (DuckDB round()
    # emitting -0.0 where Spark emits +0.0). Hash digests see what
    # the driver sees; nothing weaker is allowed here.
    diff_cols = []
    for c in sc.columns:
        sh = pd.util.hash_pandas_object(sc[c], index=False).to_numpy()
        oh = pd.util.hash_pandas_object(oc[c], index=False).to_numpy()
        if sh.shape != oh.shape or not (sh == oh).all():
            diff_cols.append(c)
    if diff_cols:
        drifted = [
            c for c in diff_cols
            if str(sc[c].dtype) != str(oc[c].dtype)
        ]
        hint = (
            f" (note: width drift in {drifted} — negative ints / "
            "inexact float32 hash width-sensitively; CAST the oracle)"
            if drifted else ""
        )
        issues.append(
            f"canonical values differ (bit-exact hash) in columns "
            f"{diff_cols}{hint}"
        )
    return issues
