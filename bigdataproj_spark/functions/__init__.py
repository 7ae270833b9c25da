"""Deterministic expression helpers (SURVEY.md §2.4) + vector math.

The core trick for cross-engine bit-exact aggregates: double summation
order differs between Spark and DuckDB, so SUM/AVG over DOUBLE columns
is computed in exact DECIMAL arithmetic (order-independent) and cast to
DOUBLE only at the end. Input casts (double → DECIMAL(p,2)) are exact
for the fixture data (2-decimal money values, TESTDATA seed=42) and
well-defined rounding otherwise.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def assert_bounded_model(rows, bound: int, what: str) -> None:
    """Runtime guard for the engine's documented driver-side collects.

    Every ``.collect()`` on a data path is contractually a MODEL-FIT
    step bounded by a constant (IVF centroids, probe vectors, DSIR
    lambda table, the SemDeDup reference slice). This assert turns a
    mis-sized fixture or a drifted filter into a loud failure at the
    collect site instead of a silent driver OOM at 1000x scale.
    """
    if len(rows) > bound:
        raise AssertionError(
            f"{what}: collected {len(rows)} rows but the documented "
            f"bound is {bound}; refusing the unbounded driver-side "
            "materialization (fixture or model constant mis-sized)"
        )


def keys_match(keys: Iterable[str], left: str, right: str) -> Column:
    """The null-safe equi condition on the group ``keys`` between two
    aliased frames. Every join on group keys uses it: groupBy folds
    NULL key values into one group, while a USING join or ``==`` never
    pairs NULL keys — a NULL group would read as absent on one side (a
    stale NULL row surviving a splice, a merge splitting it in two)."""
    return functools.reduce(
        operator.and_,
        (F.col(f"{left}.{k}").eqNullSafe(F.col(f"{right}.{k}")) for k in keys),
    )


def key_join(df: DataFrame, groups: DataFrame, keys: Iterable[str], how: str) -> DataFrame:
    """``df`` semi- or anti-joined (``how``) with the group-key tuples
    ``groups`` on :func:`keys_match` — the rows of ``df`` in (or not
    in) those groups, NULL groups included."""
    return df.alias("_k").join(groups.alias("_g"), keys_match(keys, "_k", "_g"), how)


def dec(c: Column | str, precision: int = 12, scale: int = 2) -> Column:
    """Cast to an exact decimal for order-independent arithmetic."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(f"decimal({precision},{scale})")


def dsum(c: Column | str, precision: int = 12, scale: int = 2) -> Column:
    """Order-independent SUM over a double column → DOUBLE.

    Oracle twin: ``CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)``.
    """
    return F.sum(dec(c, precision, scale)).cast("double")


def dsum_expr(c: Column) -> Column:
    """Order-independent SUM over an already-decimal expression → DOUBLE."""
    return F.sum(c).cast("double")


def davg(c: Column | str, precision: int = 12, scale: int = 2) -> Column:
    """Deterministic AVG: exact decimal sum cast to double, then IEEE
    double division by the count — bit-identical across engines.

    Oracle twin:
    ``CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE) / COUNT(x)``.
    """
    cc = F.col(c) if isinstance(c, str) else c
    return dsum(cc, precision, scale) / F.count(cc)


def cents(c: Column | str, scale: int = 100) -> Column:
    """Fixed-point int64 view of a 2-decimal money double: round(x*100).

    Exact for the fixture data (values ARE 2-decimal, so x*100 lands
    within 1e-10 of an integer and round-to-nearest recovers it
    exactly; round half-up == half-away for the non-negative inputs).
    Unlike the DECIMAL path this stays inside whole-stage codegen's
    primitive long arithmetic — ~3x faster per aggregate at sf0.1.
    """
    c = F.col(c) if isinstance(c, str) else c
    # floor(x*s + 0.5) == round-half-up for the non-negative money
    # domain, and unlike Spark's Round (which routes doubles through a
    # BigDecimal per call even inside codegen) it stays in primitive
    # long arithmetic: q01's 8-aggregate pass dropped 0.59 s -> 0.30 s
    # at sf1 on this change alone, bit-equal. Precondition x >= 0
    # (half-up and half-away differ on negatives); every money/value
    # column in the fixtures is non-negative by construction.
    return F.floor(c * scale + F.lit(0.5)).cast("long")


def isum(c: Column | str, scale: int = 100) -> Column:
    """Order-independent money SUM via int64 fixed-point → DOUBLE.

    Bit-identical to the DECIMAL oracle twin
    ``CAST(SUM(CAST(x AS DECIMAL(p,2))) AS DOUBLE)`` while the int64
    sum stays ≤ 2^53 (exact-double range): double(intsum) is exact and
    the /scale division is correctly rounded, which equals the nearest
    double of the exact rational — the same value the decimal cast
    produces. (Beyond 2^53 — ~9e13 in money units — the two paths can
    differ by 1 ulp; the correctness gate's scale factors sit far
    below that.)
    """
    return F.sum(cents(c, scale)).cast("double") / scale


def isum_expr(c: Column, denom: int) -> Column:
    """SUM of a pre-scaled int64 fixed-point expression → DOUBLE / denom."""
    return F.sum(c).cast("double") / denom


def iavg(c: Column | str, scale: int = 100) -> Column:
    """Deterministic AVG on the int64 fixed-point path (see isum)."""
    cc = F.col(c) if isinstance(c, str) else c
    return isum(cc, scale) / F.count(cc)


def fmt_ts(c: Column | str) -> Column:
    """Serialize a timestamp as a UTC ISO string (determinism rule 3).

    Oracle twin: ``strftime(ts, '%Y-%m-%dT%H:%M:%S')``.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss")


def round6(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.round(c, 6)


# ---------------------------------------------------------------------------
# Vector math over ARRAY<FLOAT>/ARRAY<DOUBLE> columns — native higher-order
# functions, fully JVM-side (no UDF). Used by similarity/embedding ops.
# ---------------------------------------------------------------------------


def vec_dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array columns via zip_with + aggregate."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vec_norm(a: Column | str) -> Column:
    """L2 norm of an array column."""
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two array columns (JVM-side, no UDF)."""
    return vec_dot(a, b) / (vec_norm(a) * vec_norm(b))


def vec_scale(a: Column | str, s: Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.transform(a, lambda x: x.cast("double") * s)


def vec_add(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.zip_with(a, b, lambda x, y: x.cast("double") + y.cast("double"))


def round_fp(c: Column | str, digits: int) -> Column:
    """DuckDB-identical rounding of a double to ``digits`` decimals.

    DuckDB's ``round(v, d)`` rounds via FP scaling (half away from
    zero on ``v * 10^d``). Spark's ``F.round`` instead routes every
    value through an exact BigDecimal — measured against 300k
    adversarial boundary doubles the two DISAGREE on ~2.4% of values
    whose scaled magnitude is large enough for the FP scaling error to
    cross the .5 boundary (and BigDecimal is also ~4× slower per
    value). This helper reproduces DuckDB's arithmetic operation for
    operation — ``sign(v) * floor(|v| * 10^d + 0.5) / 10^d`` on the
    identical IEEE products — so Spark output equals the oracle BY
    CONSTRUCTION, at primitive codegen speed. Valid while
    ``|v| * 10^d <= ~1e13`` (well inside the +0.5 exactness bound and
    DuckDB's own FP-scaling fast path — beyond ~1e15 DuckDB switches
    behavior and the identity no longer holds; the property test pins
    the valid domain); use it whenever
    the rounded value feeds the correctness hash and the scaled
    magnitude can exceed ~1e9, where F.round's disagreement
    probability stops being negligible.
    """
    c = F.col(c) if isinstance(c, str) else c
    s = F.lit(float(10**digits))
    return F.signum(c) * F.floor(F.abs(c) * s + F.lit(0.5)) / s
