"""Canonical checksum folding for extension queries.

The driver's CORRECTNESS artifact caps at 50 registry entries, so the 51
extension queries beyond the declared surface (relational q_s23.., text/
LLM q_l5.., and the serial-stateful chains) are folded into THREE combo
entries (``q_sx1_*``, ``q_sx2_*``, ``q_sx3_*`` — part lists in
sql/ext_combo.py). Each sub-query's full result is reduced
to one row ``(part, n_rows, checksum)`` where ``checksum`` is an
order-independent sum of per-row hashes over a *type-canonical* string form
— identical in Spark and DuckDB, so value parity is still checked cell by
cell, just pre-aggregated.

Canonical cell form (both engines, per column type):
- integer-ish  -> plain decimal string (``42``)
- float/double -> ``floor(x * 10^4 + 0.5)`` as a BIGINT string (``15625``
  for 1.5625) — an explicit half-up in pure IEEE-754 double ops, so both
  engines compute the identical integer from the identical double.
  In-engine ``round(x, 4)`` is NOT portable: for a non-representable tie
  like 0.00565 (double 0.0056499999…), DuckDB rounds the true binary
  value down while Spark re-parses the shortest decimal repr "0.00565"
  and rounds it HALF_UP — found live at sf0.1 in q_l5's checksum.
  NaN/±Inf map to literal sentinels before the arithmetic.
- decimal      -> plain string (scale preserved on both sides)
- string       -> as-is
- date/ts      -> formatted ``yyyy-MM-dd [HH:mm:ss]``
- NULL         -> ``ø``

Row hash: first 8 md5 hex digits of the ``|``-joined cells (columns sorted
by name) as a bigint — ``conv(substr(md5(s),1,8),16,10)`` in Spark equals
``CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT)`` in DuckDB (verified
round 1 by the q_l4 value-parity oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NULL_SENTINEL = "ø"


def _spark_cell_sql(field: T.StructField) -> str:
    """Canonical cell form as ONE Spark-SQL expression string.

    SQL text instead of a Column tree (r13): the Column form crossed py4j
    ~40-300 times per float column (every when/floor/concat is a round
    trip), and the fold builds 52 of these summaries per cycle — measured
    as a material share of the q_sx driver-side construction floor. One
    ``F.expr`` parses the identical expression in a single round trip.
    Semantics are pinned by the per-type parity tests
    (tests/test_oracle_suite.py: cell-vs-DuckDB string equality across the
    float magnitude ladder) and by every folded oracle checksum.

    All numeric literals carry the ``D`` suffix: bare ``10000.0`` parses
    as DECIMAL in Spark SQL, which would change the arithmetic the float
    ladder's portability proof depends on (exact double ops only)."""
    c = "`" + field.name.replace("`", "``") + "`"
    t = field.dataType
    if isinstance(t, (T.FloatType, T.DoubleType)):
        d = f"CAST({c} AS DOUBLE)"
        scaled = f"CAST(CAST(floor({d} * 10000.0D + 0.5D) AS BIGINT) AS STRING)"
        # |x| >= 9e14 would overflow the x*1e4 BIGINT — above that, 4dp is
        # noise anyway, so the canonical form degrades to a scaled integer.
        # Engine traps that rule out the obvious forms: Spark's
        # floor(double) returns BIGINT and SATURATES at ±2^63; Spark's
        # double->decimal cast parses the JAVA shortest repr while DuckDB
        # converts the exact binary value; and Java vs C++ shortest-repr
        # algorithms pick different digit counts for the same double
        # (-1.90468228081908352e18 prints 18 digits in Java, 17 in DuckDB),
        # so no string/decimal path is portable. What IS portable: basic
        # IEEE ops (correctly rounded everywhere) on exactly-representable
        # literals. The ladder floors x divided by an EXACT power of ten
        # (10^k is exact for k <= 22) chosen so the quotient fits a long —
        # identical division, identical floor, identical long in both
        # engines; past 9e36 the form collapses to a sign bucket
        # (deterministic; DECIMAL overflow there was an error anyway).
        def _rung(div: str | None, tag: str) -> str:
            q = f"floor({d} / {div})" if div else f"floor({d})"
            return f"concat('{tag}', CAST(CAST({q} AS BIGINT) AS STRING))"

        big = (
            f"CASE WHEN abs({d}) < 9.0E18D THEN {_rung(None, 'e0:')} "
            f"WHEN abs({d}) < 9.0E24D THEN {_rung('1.0E6D', 'e6:')} "
            f"WHEN abs({d}) < 9.0E30D THEN {_rung('1.0E12D', 'e12:')} "
            f"WHEN abs({d}) < 9.0E36D THEN {_rung('1.0E18D', 'e18:')} "
            f"ELSE concat('huge:', CASE WHEN {d} > 0 THEN '+' ELSE '-' END) "
            f"END"
        )
        s = (
            f"CASE WHEN isnan({d}) THEN 'NaN' "
            f"WHEN {d} = CAST('Infinity' AS DOUBLE) THEN 'Inf' "
            f"WHEN {d} = CAST('-Infinity' AS DOUBLE) THEN '-Inf' "
            f"WHEN abs({d}) >= 9.0E14D THEN {big} "
            f"ELSE {scaled} END"
        )
    elif isinstance(t, T.DecimalType) or isinstance(
        t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType)
    ):
        s = f"CAST({c} AS STRING)"
    elif isinstance(t, T.DateType):
        s = f"date_format({c}, 'yyyy-MM-dd')"
    elif isinstance(t, T.TimestampNTZType):
        # NTZ renders the wall time directly — no session-zone conversion
        s = f"date_format({c}, 'yyyy-MM-dd HH:mm:ss')"
    elif isinstance(t, T.TimestampType):
        # INSTANT timestamps are rejected: date_format renders them
        # through the SESSION zone while the DuckDB twin renders the naive
        # oracle value, so the checksum silently breaks under the
        # SPARK_GRAFT_TZ sweep (the instant<->NTZ trap, review r5). Folded
        # queries emit TIMESTAMP_NTZ (the repo's wall-time convention) or
        # pre-render to strings.
        raise TypeError(
            f"column {field.name} is an INSTANT timestamp: canonicalize "
            f"wall times as TIMESTAMP_NTZ (or date_format to a string "
            f"explicitly) — instant rendering is session-zone-dependent"
        )
    elif isinstance(t, T.StringType):
        s = c
    else:
        raise TypeError(f"no canonical form for column {field.name}: {t}")
    return f"coalesce({s}, '{NULL_SENTINEL}')"


def _spark_cell(field: T.StructField):
    """Column form of the canonical cell (tests and expression contexts);
    delegates to the SQL text so the two can never drift."""
    return F.expr(_spark_cell_sql(field))


def spark_canon_summary(df: DataFrame, part: str) -> DataFrame:
    """Reduce a result DataFrame to one (part, n_rows, checksum) row.

    Built as two ``selectExpr`` calls over generated SQL text (r13): the
    Column-tree form paid hundreds of py4j round trips per part — see
    ``_spark_cell_sql``. The expressions are identical; only how they
    reach the JVM changed."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    cells = ", ".join(_spark_cell_sql(f) for f in fields)
    h = (
        f"CAST(conv(substring(md5(concat_ws('|', {cells})), 1, 8), 16, 10) "
        f"AS BIGINT)"
    )
    # Spark string literals take backslash escapes
    literal = part.replace("\\", "\\\\").replace("'", "\\'")
    return df.selectExpr(f"{h} AS h").selectExpr(
        f"'{literal}' AS part",
        "count(1) AS n_rows",
        "CAST(coalesce(sum(h), 0) AS BIGINT) AS checksum",
    )


def _duck_cell(name: str, duck_type: str) -> str:
    t = duck_type.upper()
    col = '"' + name.replace('"', '""') + '"'
    if t in ("DOUBLE", "FLOAT", "REAL"):
        d = f"CAST({col} AS DOUBLE)"
        s = (
            f"CASE WHEN isnan({d}) THEN 'NaN' "
            f"WHEN isinf({d}) AND {d} > 0 THEN 'Inf' "
            f"WHEN isinf({d}) THEN '-Inf' "
            # exact-ladder parity with _spark_cell (see its comment): floor
            # of x divided by an exactly-representable power of ten — basic
            # IEEE ops only, no decimal/string conversion of the double
            f"WHEN abs({d}) >= 9.0e14 THEN CASE "
            f"WHEN abs({d}) < 9.0e18 THEN concat('e0:', CAST(CAST(floor({d}) AS BIGINT) AS VARCHAR)) "
            f"WHEN abs({d}) < 9.0e24 THEN concat('e6:', CAST(CAST(floor({d} / 1.0e6) AS BIGINT) AS VARCHAR)) "
            f"WHEN abs({d}) < 9.0e30 THEN concat('e12:', CAST(CAST(floor({d} / 1.0e12) AS BIGINT) AS VARCHAR)) "
            f"WHEN abs({d}) < 9.0e36 THEN concat('e18:', CAST(CAST(floor({d} / 1.0e18) AS BIGINT) AS VARCHAR)) "
            f"ELSE concat('huge:', CASE WHEN {d} > 0 THEN '+' ELSE '-' END) END "
            f"ELSE CAST(CAST(floor({d} * 10000.0 + 0.5) AS BIGINT) AS VARCHAR) END"
        )
    elif t.startswith("DECIMAL") or t in (
        "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "BOOLEAN",
    ):
        s = f"CAST({col} AS VARCHAR)"
    elif t == "DATE":
        s = f"strftime({col}, '%Y-%m-%d')"
    elif "WITH TIME ZONE" in t:
        # the Spark twin REJECTS instant timestamps because strftime of an
        # instant renders in the session zone (checksum flips under the
        # SPARK_GRAFT_TZ sweep); accepting TIMESTAMPTZ here via the bare
        # startswith let the identical trap through on the oracle side as
        # a flaky parity failure instead of this loud error (review r7)
        raise TypeError(
            f"column {name} is {duck_type}: instant timestamps are "
            f"zone-dependent under strftime — emit NTZ or epoch integers"
        )
    elif t.startswith("TIMESTAMP"):
        s = f"strftime({col}, '%Y-%m-%d %H:%M:%S')"
    elif t == "VARCHAR":
        s = col
    else:
        raise TypeError(f"no canonical form for column {name}: {duck_type}")
    return f"coalesce({s}, '{NULL_SENTINEL}')"


def duckdb_canon_sql(inner_sql: str, part: str, col_types: list[tuple[str, str]]) -> str:
    """Wrap an oracle SQL text into its (part, n_rows, checksum) summary.

    ``col_types`` comes from DuckDB DESCRIBE of the inner query (see
    tools/gen_ext_oracle.py, which writes sql/_ext_oracle_gen.py)."""
    cells = ", ".join(
        _duck_cell(n, t) for n, t in sorted(col_types, key=lambda x: x[0])
    )
    h = "CAST(concat('0x', substr(md5(concat_ws('|', " + cells + ")), 1, 8)) AS BIGINT)"
    literal = part.replace("'", "''")
    return (
        f"SELECT '{literal}' AS part, count(*) AS n_rows, "
        f"CAST(coalesce(sum(h), 0) AS BIGINT) AS checksum "
        f"FROM (SELECT {h} AS h FROM ({inner_sql}))"
    )
