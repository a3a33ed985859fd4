"""Cross-engine exactness helpers.

The driver compares Spark results against DuckDB with an exact
value-hash, so floating-point discipline matters:

* Per-row double arithmetic (`+ - * /` of the same inputs) is IEEE-754
  deterministic — bit-identical across engines. Safe to emit raw.
* ``SUM``/``AVG`` over doubles depend on accumulation order — NOT
  stable across engines (or even across Spark partitionings). Sum in
  DECIMAL instead: exact, associative, identical everywhere.
* ``ROUND(double)`` is a trap: Spark rounds the shortest decimal
  representation (via ``BigDecimal.valueOf``), DuckDB rounds the binary
  value — they disagree on half-way doubles. Never round doubles that
  feed the oracle hash.

The source doubles here carry <=4 true decimal digits, so
``DECIMAL(38, 8)`` casts are unambiguous on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "DECIMAL(38,8)"


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize a multi-consumer intermediate (r12 policy,
    r11 VERDICT #9).

    Default (``local``): ``localCheckpoint(eager=True)`` — fastest on a
    single host, but it stores UNREPLICATED executor blocks and
    truncates lineage, so on a real cluster an executor loss kills the
    query. Corpus-grain tables (bigram type counts, minhash signature
    tables, phrase-instance tables — anything not provably bounded at
    100 TB) route through this helper so one deployment knob governs
    them: ``SPARK_GRAFT_MATERIALIZE=persist`` switches to
    ``persist(DISK_ONLY)`` + an eager count, which KEEPS lineage (a
    lost block recomputes instead of failing) at the cost of a disk
    write. Bounded-grain tables (|Q|x k eval scaffolds, <=25-node
    graph frames) may stay on plain localCheckpoint unconditionally.
    """
    import os

    if os.environ.get("SPARK_GRAFT_MATERIALIZE", "local") == "persist":
        from pyspark.storagelevel import StorageLevel

        out = df.persist(StorageLevel.DISK_ONLY)
        out.count()
        return out
    return df.localCheckpoint(eager=True)


def spread(df: DataFrame) -> DataFrame:
    """Layout-adaptive parallelism guard for explode-heavy pipelines
    (r12, guide §2.2): when the upstream scan yields fewer input splits
    than cores (each local test parquet is ONE row group, so a scan is
    ONE task and everything map-side after it — explodes, per-row hash
    batteries — runs serial until the first exchange), repartition to
    one partition per core. On a production layout with many files/row
    groups the partition count already exceeds the core count and this
    is a no-op, so it is not a local-mode constant: the condition is
    the measured split count, the target is ``defaultParallelism``."""
    sc = df.sparkSession.sparkContext
    dp = sc.defaultParallelism
    if df.rdd.getNumPartitions() < dp:
        return df.repartition(dp)
    return df


def pair_structs(arr: str, struct_body: str) -> str:
    """SQL for the array of every i<j pair of the array column ``arr``,
    each as ``struct(struct_body)`` with ``x`` bound to element i and
    ``y`` to element j."""
    return (
        f"flatten(transform({arr}, (x, i) ->"
        f" transform(slice({arr}, i + 2, size({arr}) - i - 1),"
        f" y -> struct({struct_body}))))"
    )


def bucket_pairs(arr: str, struct_body: str) -> Column:
    """Explode every i<j pair of the array column ``arr`` as one
    ``struct(struct_body)`` row (:func:`pair_structs`) — the pair
    generator that replaces a bucket self-join (each element is read
    once, and the pair set is the join's i<j half when ``arr`` is sorted
    and duplicate-free)."""
    return F.explode(F.expr(pair_structs(arr, struct_body)))


def ngrams(col: str, n: int) -> Column:
    """Word n-grams of a text column, in order: each run of ``n``
    consecutive words of ``split(col, ' ')`` joined by one space, and
    none when the text has fewer than ``n`` words (DuckDB's
    ``range(1, len(words) - n + 2)`` twin).

    The text is split once: the word array is bound by a lambda over a
    one-element array, and its ``n`` shifted slices of the gram count
    are zipped, so no per-position lambda splits the text again."""
    k = f"greatest(size(w) - {n - 1}, 0)"
    slices = ", ".join(f"slice(w, {i}, {k})" for i in range(1, n + 1))
    words = ", ".join(f"z.`{i}`" for i in range(n))
    return F.expr(
        f"element_at(transform(array(split({col}, ' ')),"
        f" w -> transform(arrays_zip({slices}), z -> concat_ws(' ', {words}))), 1)"
    )


def dsum(expr_sql: str) -> Column:
    """Order-independent exact sum of a double expression (Spark side)."""
    return F.sum(F.expr(f"CAST(({expr_sql}) AS {DEC})"))


def dsum_sql(expr_sql: str) -> str:
    """Oracle-side twin of :func:`dsum`."""
    return f"SUM(CAST(({expr_sql}) AS {DEC}))"


def dsum_double(expr_sql: str) -> Column:
    """Exact decimal sum emitted as DOUBLE.

    The driver's value-hash is exact and type-sensitive: Spark returns
    ``Decimal`` objects for DECIMAL aggregates while DuckDB materializes
    DECIMAL (and ``SUM(int)`` -> HUGEINT) to float64 — the identical
    value hashes differently. Casting the *final* decimal to DOUBLE on
    both sides keeps accumulation exact (order-independent) and makes
    the output representation identical.
    """
    return F.expr(f"CAST(SUM(CAST(({expr_sql}) AS {DEC})) AS DOUBLE)")


def dsum_double_sql(expr_sql: str) -> str:
    """Oracle-side twin of :func:`dsum_double`.

    NOTE the VARCHAR hop: DuckDB converts DECIMAL to DOUBLE as
    ``(double)int128 / 10^scale`` — TWO roundings, off by 1 ulp once the
    scaled integer exceeds 2^53 (bites at sf >= 0.1 on big sums). Spark's
    BigDecimal conversion is correctly rounded, and so is DuckDB's
    string->double parse, hence decimal -> VARCHAR -> DOUBLE.
    """
    return f"CAST(CAST(SUM(CAST(({expr_sql}) AS {DEC})) AS VARCHAR) AS DOUBLE)"


def ddbl(x: str) -> str:
    """Spark-side DECIMAL/BIGINT -> DOUBLE cast (correctly rounded)."""
    return f"CAST({x} AS DOUBLE)"


def ddbl_sql(x: str) -> str:
    """DuckDB-side twin: VARCHAR hop for a correctly-rounded cast
    (see dsum_double_sql — DuckDB's direct int128/decimal -> double
    conversion double-rounds past 2^53)."""
    return f"CAST(CAST({x} AS VARCHAR) AS DOUBLE)"


def davg(expr_sql: str) -> Column:
    """Exact-sum-based average: decimal sum -> double, / count.

    Both engines cast the identical decimal to the nearest double and
    divide by the identical count -> bit-identical result.
    """
    return F.expr(f"CAST(SUM(CAST(({expr_sql}) AS {DEC})) AS DOUBLE) / COUNT({expr_sql})")


def davg_sql(expr_sql: str) -> str:
    # VARCHAR hop: see dsum_double_sql
    return f"CAST(CAST(SUM(CAST(({expr_sql}) AS {DEC})) AS VARCHAR) AS DOUBLE) / COUNT({expr_sql})"
