"""Local mirror of the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its oracle SQL on the same fixtures,
then compares row count, column names, and order-insensitive values.

Faithfulness contract (round-2 hardening, per VERDICT r1 §What's-wrong 3):
the driver hashes EXACT values with a pandas-based canonicalizer that
(a) does NOT round floats — bit-equality or bust — and (b) CRASHES with
``TypeError: unhashable type`` on array/map-typed output columns
(pandas ``factorize`` during ``sort_values``). This mirror reproduces
both behaviors: floats compare bit-exact, and any list/dict value in an
oracle-backed result raises ``ComplexTypeHazard`` so the local suite
fails loudly *before* the driver does. Queries with array outputs must
stringify them (``array_join``/``to_json``) on both sides.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def write_fixture(out_dir: str, like_sf_dir: str, rows: dict[str, list[dict]]) -> str:
    """Write a fixture directory holding every table in ``TABLES`` with
    the schema of the same table under ``like_sf_dir``: the given rows
    for the tables named in ``rows``, no rows for the rest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        schema = pq.read_schema(os.path.join(like_sf_dir, t + ".parquet"))
        tbl = pa.Table.from_pylist(rows.get(t, []), schema=schema)
        pq.write_table(tbl, os.path.join(out_dir, t + ".parquet"))
    return out_dir


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    return con


class ComplexTypeHazard(TypeError):
    """An array/map-typed output column reached the compare layer.

    The driver's pandas hasher dies with ``unhashable type: 'list'`` on
    these (CORRECTNESS_r01: q_agg_distinct, q_agg_collect_sorted), so
    the mirror refuses them instead of silently tuple-izing."""


class DecimalEmissionHazard(TypeError):
    """A DecimalType output column reached the compare layer.

    CORRECTNESS_r04 (q_fn_cast_decimal): all 15,000 values matched the
    oracle tie-for-tie, yet the driver hash-failed — the DECIMAL-typed
    emission itself normalizes differently through the driver's pandas
    fetch (trailing-zero scale / float64 conversion) than through this
    mirror's ``fetchall`` path. The repo convention (FIXTURES.md) is
    integer units: keep decimal math internal, emit
    ``CAST(dec * 100 AS BIGINT) AS ..._cents``."""


class PandasUpcastHazard(TypeError):
    """The oracle's pandas fetch upcasts an integer column to float64
    while Spark emits an integer type.

    CORRECTNESS_r04 (q_feature_rare_collapse): DuckDB ``SUM(BIGINT)``
    returns HUGEINT, which ``fetchdf`` converts to float64 (``134.0``)
    while Spark emits int64 (``134``) — hash mismatch on dtype, not
    value, invisible to this mirror's ``fetchall`` path (HUGEINT →
    Python int → equal). The driver fetches oracles via pandas, so the
    mirror refuses the pattern: wrap the aggregate in
    ``CAST(... AS BIGINT)``."""


class TzAwareHazard(TypeError):
    """A tz-aware ``timestamp`` output column reached the compare layer.

    Every driver-green timestamp-emitting query outputs ``timestamp_ntz``
    and the driver's hasher distinguishes the two (CORRECTNESS_r02:
    q_agg_incremental matched value-for-value locally yet hash-failed the
    driver because ``date_trunc`` had promoted its month column to
    tz-aware). The mirror refuses tz-aware outputs instead of stripping
    tzinfo — cast to ``timestamp_ntz`` (UTC session → value-exact)."""


def assert_no_tz_aware(spark_df) -> None:
    """Fail on any tz-aware TimestampType or DecimalType in the output
    schema (both hash engine-dependently through the driver's pandas
    fetch — see the hazard docstrings)."""
    from pyspark.sql import types as T

    def walk(dt, path):
        if isinstance(dt, T.TimestampType):
            raise TzAwareHazard(
                f"output column {path!r} is tz-aware timestamp — the driver "
                "hasher distinguishes it from timestamp_ntz; cast with "
                ".cast('timestamp_ntz') (session tz is UTC, value-exact)"
            )
        if isinstance(dt, T.DecimalType):
            raise DecimalEmissionHazard(
                f"output column {path!r} is DecimalType — emissions with "
                "this type hash-failed the driver with value-identical "
                "data (r4: q_fn_cast_decimal); emit integer units "
                "(CAST(dec * 100 AS BIGINT)) on both sides instead"
            )
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                walk(f.dataType, f"{path}.{f.name}")
        elif isinstance(dt, T.ArrayType):
            walk(dt.elementType, path + "[]")
        elif isinstance(dt, T.MapType):
            walk(dt.keyType, path + ".key")
            walk(dt.valueType, path + ".value")

    for f in spark_df.schema.fields:
        walk(f.dataType, f.name)


def _canon(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        # Exact: the driver hashes raw values. A query whose floats only
        # agree to N decimal places WILL fail the driver's hash.
        return ("f", v)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            raise TzAwareHazard(
                f"tz-aware datetime {v!r} would hash-mismatch the driver "
                "(it distinguishes timestamp from timestamp_ntz) — cast "
                "the column to timestamp_ntz on the Spark side"
            )
        return ("ts", v.isoformat())
    if isinstance(v, date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple, dict, set)):
        raise ComplexTypeHazard(
            f"complex-typed value {v!r} would crash the driver's pandas "
            "hasher (unhashable type) — stringify with array_join/to_json "
            "in BOTH the Spark query and the oracle SQL"
        )
    if isinstance(v, bytearray):
        return ("by", bytes(v))
    return (type(v).__name__, v)


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_canon(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


#: DuckDB declared types that ``fetchdf`` materializes as a float
#: dtype even when every value is non-null — the ones that diverge
#: from a Spark integer emission at driver-hash time.
_FLOAT_FETCH_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL", "DOUBLE", "FLOAT", "REAL")


def assert_no_pandas_upcast(spark_df, con, oracle: str) -> None:
    """Refuse oracle columns that pandas upcasts to float where Spark
    emits an integer type (the driver fetches oracles via ``fetchdf``,
    this mirror via ``fetchall`` — the r4 HUGEINT blind spot).

    The check is TYPE-derived via ``DESCRIBE <oracle>`` (plan-only —
    binds the query without executing it), not a second full
    ``fetchdf`` execution, which doubled oracle cost on every
    integer-emitting compare (ADVICE r5). Declared-integer columns
    (e.g. BIGINT) are never flagged: when null-bearing, pandas upcasts
    BOTH sides — the driver's Spark fetch included — to float64, so
    the hashes still agree; the divergent case is a column DuckDB
    declares as HUGEINT/DECIMAL/DOUBLE (float-fetched even fully
    non-null) opposite a Spark integer schema.

    POLICY (ADVICE r6): declared-float-vs-Spark-int is banned OUTRIGHT,
    including the null-bearing case where both sides would upcast to
    float64 and the hashes would happen to agree. That agreement is
    fragile (it holds only while every value round-trips through
    float64 exactly, i.e. |v| < 2^53, and only while the column stays
    null-bearing at the graded SF), and checking for actual nulls
    would execute the DataFrame this check exists to avoid executing.
    A legitimate oracle fixes this in one line: CAST the column to
    BIGINT on the DuckDB side or to DOUBLE on the Spark side."""
    from pyspark.sql import types as T

    int_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if not any(isinstance(f.dataType, int_types) for f in spark_df.schema.fields):
        return  # nothing to upcast against — skip the DESCRIBE round-trip
    desc = con.execute(f"DESCRIBE {oracle}").fetchall()
    otype = {row[0].lower(): row[1].upper() for row in desc}
    for f in spark_df.schema.fields:
        t = otype.get(f.name.lower())
        if t is None or not isinstance(f.dataType, int_types):
            continue
        if t.startswith(_FLOAT_FETCH_TYPES):
            raise PandasUpcastHazard(
                f"oracle column {f.name!r} is declared {t} (pandas-fetches "
                f"as float64) while Spark emits {f.dataType.simpleString()} "
                "— likely a DuckDB HUGEINT (SUM over an integer column); "
                "wrap the aggregate in CAST(... AS BIGINT) in the oracle SQL"
            )


def compare(spark_df, con, oracle: str, limit: int | None = None) -> tuple[bool, str]:
    assert_no_tz_aware(spark_df)
    assert_no_pandas_upcast(spark_df, con, oracle)
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = [c.lower() for c in spark_df.columns]
    o = con.execute(oracle)
    o_cols = [d[0].lower() for d in o.description]
    o_rows = o.fetchall()

    if sorted(s_cols) != sorted(o_cols):
        return False, f"columns differ: spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    if len(s_rows) != len(o_rows):
        return False, f"row count differs: spark={len(s_rows)} oracle={len(o_rows)}"
    ss, oo = _rowset(s_cols, s_rows), _rowset(o_cols, o_rows)
    if ss != oo:
        diffs = [(a, b) for a, b in zip(ss, oo) if a != b][:3]
        return False, f"values differ; first diffs (spark vs oracle): {diffs}"
    return True, f"ok ({len(s_rows)} rows)"
