"""Query/oracle registry.

Every operator key from SURVEY.md §2 registers here: a PySpark builder
``(spark, sf_dir) -> DataFrame`` and, for oracle=Y keys, the matching
DuckDB-runnable ANSI SQL. ``__spark_entry__.py`` re-exports these to
the driver.

Float-stability convention (SURVEY.md §2 preamble): fixture money
columns are exactly 2-decimal and ``events.value`` exactly 4-decimal,
so both engines sum them as decimals (exact, order-insensitive) and
cast the result back to double — bitwise-identical on both sides, no
rounding races. Helpers ``dsum`` / ``dexpr`` encode that.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Oracles whose SQL embeds DATA-DERIVED constants (eigenvector
# components, codec pins) register a BUILDER ``sf_dir -> SQL`` here
# instead of static text: the constants must come from the same corpus
# the oracle will be compared at, so the text is resolved lazily per
# scale tier (the driver's contract tier is sf0.01; the sf10 sweep
# re-resolves at its own dir).
ORACLE_BUILDERS: dict[str, Callable[[str], str]] = {}

#: the driver's correctness-gate scale: oracle_sql() resolves here.
DEFAULT_ORACLE_SF_DIR = "/root/testdata/sf0.01"


def query(
    key: str, oracle: str | Callable[[str], str] | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register a query builder (and optional DuckDB oracle SQL —
    static text, or an ``sf_dir -> SQL`` builder for oracles with
    data-derived constants)."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")
        QUERIES[key] = fn
        if oracle is not None:
            if callable(oracle):
                ORACLE_BUILDERS[key] = oracle
            else:
                ORACLES[key] = oracle
        return fn

    return deco


def resolve_oracles(sf_dir: str = DEFAULT_ORACLE_SF_DIR) -> dict[str, str]:
    """Static oracles plus the sf-dir-aware built ones. A builder that
    fails (e.g. its fixture parquet is absent in a stripped checkout)
    logs loudly and degrades that key to rows-only for the run instead
    of taking down every caller of ``oracle_sql()``."""
    import sys

    out = dict(ORACLES)
    for k, build in sorted(ORACLE_BUILDERS.items()):
        try:
            out[k] = build(sf_dir)
        except Exception as exc:  # degraded, visible — never fatal
            print(f"# oracle builder failed for {k}: {exc}", file=sys.stderr)
    return out


POLY_MOD = 1_000_000_007


def poly_hash(s: Column) -> Column:
    """Engine-portable string hash: base-31 polynomial fold over
    character codes, mod 1e9+7 — pure int64 arithmetic (acc < 1e9,
    acc*31 + 255 << 2^63) that DuckDB's ``list_reduce`` replays
    bit-for-bit. The portable convention for every hash that an oracle
    must recompute; production pipelines that don't need cross-engine
    verification swap in ``F.xxhash64`` (one JVM intrinsic instead of a
    per-char fold) without changing any downstream shape.

    Character model: both engines fold per codepoint (Spark ``ascii``
    and DuckDB ``ascii`` return the codepoint of the char), and on
    Spark 4 ``split('')`` segments per codepoint, not per UTF-16
    unit — so the contract holds for ALL of Unicode including astral
    codepoints (emoji, U+10000+), pinned by the differential test in
    tests/test_portable_hash.py. Strings are compared as-is: combining
    vs precomposed accents hash differently (both engines agree);
    apply NFC normalization upstream if a corpus mixes forms."""
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % POLY_MOD,
    )


def opoly(expr: str) -> str:
    """Oracle-SQL fragment matching :func:`poly_hash` (DuckDB lambda)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), "
        f"c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * 31 + b) % 1000000007)"
    )


def pow_mod_table(base: int, n: int):
    """``base**i % POLY_MOD`` for i in 0..n-1 as int64, built by
    vectorized doubling (log₂ n numpy passes, no per-element Python);
    every product of two residues stays < (2^30)² < 2^63."""
    import numpy as np

    out = np.ones(max(n, 1), dtype=np.int64)
    if n > 1:
        out[1] = base
    filled = min(n, 2)
    while filled < n:
        take = min(filled, n - filled)
        step = out[filled - 1] * base % POLY_MOD
        out[filled : filled + take] = out[:take] * step % POLY_MOD
        filled += take
    return out[:n]


def poly_fold(codes, lens):
    """numpy twin of :func:`poly_hash` for a batch of strings, for the
    Arrow kernels that must reproduce it bit-for-bit.

    ``codes`` holds the codepoints of consecutive strings and
    ``lens[i]`` the codepoint length of string i; returns each
    string's hash as int64 (0 for an empty string). The per-char
    Horner fold ``acc*31 + c mod POLY_MOD`` equals the positional sum
    Σ c_j·31^(len-1-j) mod POLY_MOD, so the fold is one multiply per
    codepoint plus a segment sum: codepoints < 2^21 times residues
    < 2^30 stay exact in int64, and so does a segment sum below ~2^33
    chars."""
    import numpy as np

    lens = np.asarray(lens, dtype=np.int64)
    out = np.zeros(len(lens), dtype=np.int64)
    if len(codes) == 0:
        return out
    ends = np.cumsum(lens)
    starts = ends - lens
    exp = np.repeat(ends - 1, lens)
    exp -= np.arange(len(codes))
    # in place: the kernels run over whole batches, and every
    # per-codepoint temporary stays in the worker's heap
    terms = pow_mod_table(31, int(lens.max()))[exp]
    del exp
    terms *= codes
    terms %= POLY_MOD
    full = lens > 0
    out[full] = np.add.reduceat(terms, starts[full]) % POLY_MOD
    return out


def dsum(col: Column | str, scale: int = 2, *, wide: bool = False) -> Column:
    """Exact, order-insensitive sum of a fixed-point double column, as
    double.

    Fast path: scale to integer units (``floor(x*10^s + 0.5)`` — exact
    for s-decimal fixed-point inputs), sum as long (integer addition is
    associative, so the result is independent of partition/shuffle
    order), cast back. This stays inside whole-stage codegen with a
    long aggregation buffer and measured 3.5× faster than decimal(38)
    summing on TPC-H Q1 at sf0.1 (0.29 s vs 1.03 s warm) — decimal-128
    buffers were round 2's only perf regression.

    Values are bitwise-identical to the decimal path while the integer
    sum stays below 2^53 (exact long→double cast, then a correctly-
    rounded division by an exactly-representable power of ten, same on
    both engines). Overflow bound: |group sum| < 2^63 / 10^s value
    units; for sums beyond that (e.g. 100 TB-scale sums at scale 6),
    pass ``wide=True`` to sum through decimal(38,s) instead.
    """
    c = F.col(col) if isinstance(col, str) else col
    if wide:
        return F.sum(c.cast(f"decimal(38,{scale})")).cast("double")
    k = 10**scale
    return F.sum(F.floor(c * k + F.lit(0.5))).cast("double") / F.lit(float(k))


def usum(col: Column | str, scale: int = 4) -> Column:
    """Exact integer-unit sum (LONG) of a fixed-point double column —
    the integer half of :func:`dsum`, for keys that keep computing ON
    the unit grid (half-up averages, interpolation) instead of casting
    back to double. Same quantization (``floor(x·10^s + 0.5)``), same
    overflow bound as dsum's fast path."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.floor(c * 10**scale + F.lit(0.5)).cast("long"))


def half_up_micro_avg(units: str, n: str, *, sql: bool = False) -> str:
    """Round-half-up integer average on the micro (1e-6) grid from
    1e-4-unit sums: ``(2·units·100 + n) div (2n)`` — all operands must
    be non-negative so truncating division IS floor on both engines
    (Spark ``div`` / DuckDB ``//``). One expression, two dialects, so
    the Spark plan and the DuckDB oracle can never disagree on the
    rounding rule (the r7 sf1 probe retired the ROUND(double, 6)
    idiom this replaces: exact 1e-6 midpoints round differently per
    engine)."""
    op = "//" if sql else "div"
    return f"(2 * {units} * 100 + {n}) {op} (2 * {n})"


def ousum(expr: str, scale: int = 4) -> str:
    """Oracle-SQL fragment matching :func:`usum`: the exact integer-unit
    sum, the integer half of :func:`osum`. Ratio keys (Q8, Q14) keep
    both terms in units and close with one double division, so the
    oracle replays exactly one rounding step."""
    return f"SUM(CAST(FLOOR(({expr}) * {10**scale} + 0.5) AS BIGINT))"


def osum(expr: str, scale: int = 2, *, wide: bool = False) -> str:
    """Oracle-SQL fragment matching :func:`dsum` term-for-term.

    DuckDB's SUM(BIGINT) widens to HUGEINT; casting that exact integer
    to DOUBLE is the same correctly-rounded value as Spark's long →
    double cast, and both engines then divide by the same power of ten.
    """
    if wide:
        return f"CAST(SUM(CAST({expr} AS DECIMAL(38,{scale}))) AS DOUBLE)"
    return f"CAST({ousum(expr, scale)} AS DOUBLE) / {float(10**scale)}"
