"""Reusable Column expressions.

Everything the reference does row-wise in Python (SURVEY §2.7) is
expressed here as built-in-function Columns — JVM-side, codegen-friendly,
no Python UDFs in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType


def spread(df: DataFrame, multiple: int = 1) -> DataFrame:
    """Repartition a narrow input to cluster parallelism before a
    CPU-heavy row expansion (shingling, per-token hashing, explodes).

    A small parquet file arrives as ONE scan partition; without this the
    expansion runs on one core. The shuffle moves only the narrow input
    — trivially cheap relative to the work it parallelizes. At real
    scale inputs are already wide and this becomes a cheap no-op-ish
    rebalance.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism * multiple)

# Money math: the driver's value-hash comparison is exact, and float
# sums are order-dependent across engines/partitionings. Casting 2-dp
# money doubles to DECIMAL(18,2) before aggregating makes every sum
# exact and deterministic at any parallelism — the same trick a real
# warehouse uses for currency. Matching oracles apply the same cast.
#
# Output types preserve the full natural scale of the expression (2 for
# plain sums, 4 for price*(1-disc), 6 for the tax-charge product): a
# downcast that drops scale would round, and Spark (HALF_UP) and DuckDB
# disagree on rounding ties.
MONEY = DecimalType(18, 2)


def money(c: Column | str) -> Column:
    return (F.col(c) if isinstance(c, str) else c).cast(MONEY)


def revenue(price: str = "l_extendedprice", discount: str = "l_discount") -> Column:
    """Discounted line revenue, exact: price * (1 - discount)."""
    return money(price) * (F.lit(1).cast(MONEY) - money(discount))


def surrogate_key(*cols: str | Column) -> Column:
    """Deterministic 128-bit surrogate key (P2):
    ``unhex(md5(concat_ws('|', cols)))``, a 16-byte BINARY.

    The reference assigns ``uuid4()`` per row (ref: src/utils/utils.py:71),
    which is nondeterministic across retries/runs and so unusable for
    oracle checks or idempotent re-loads. md5 over the natural key is
    stable, computable map-side with no shuffle, and has the uuid4's
    width; a key column may itself be a key (binary → string keeps the
    bytes). Evidence: the six 10k-paper arxiv stages store 1.02 bytes
    per input byte with these keys, 1.37 with 64-character sha2 hex
    (NOTES.md "Surrogate keys").
    """
    return F.unhex(F.md5(F.concat_ws("|", *cols)))


def clean_text(c: Column | str) -> Column:
    """P8: strip newlines, collapse whitespace runs, trim
    (ref: src/utils/databases.py:66-74).

    (?U) makes Java's \\s match Unicode whitespace (U+2000, NBSP, …) —
    matching the reference's Python ``re`` semantics, where \\s is
    Unicode by default. Collapsing first turns any edge whitespace into
    ASCII spaces, so the plain trim finishes the job. (Found by the
    hypothesis property test.)

    DuckDB oracles use the RE2 class [\\s\\p{Z}\\x{85}\\x{0B}]+, which
    covers the same White_Space set ((?U)\\s) — RE2's bare \\s is
    ASCII-only, which would silently disagree on NBSP/U+2000-class
    input (pinned by the unicode parity test)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(col, r"(?U)\s+", " "))


def null_default(c: Column | str, default: str = "Unknown") -> Column:
    """P9: null -> sentinel (ref: src/utils/databases.py:138-141)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.coalesce(col, F.lit(default))


def iso_or_original(c: Column | str, fmt: str) -> Column:
    """P7: reformat a date string to ISO-8601, keeping the original
    verbatim when it fails to parse (ref: src/utils/databases.py:56-64).

    ``try_to_timestamp`` gives the tolerant path without legacy parser
    flags; ``coalesce`` restores the keep-original semantics.
    """
    col = F.col(c) if isinstance(c, str) else c
    parsed = F.try_to_timestamp(col, F.lit(fmt))
    return F.coalesce(F.date_format(parsed, "yyyy-MM-dd'T'HH:mm:ss"), col)
