"""Cross-engine determinism helpers (see registry.py docstring)."""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Debug guard for rdiv's exactness premise (r18 advice): with this env
# var set, every rdiv() whose caller claims the exact regime
# (exact=True, the default) asserts 2·|num|·10^r + den < 2^53 at
# runtime — the bound below which floor-division in doubles IS true
# half-away rounding. Callers that knowingly operate beyond the bound
# (documented determinism-only regime, e.g. q_agg_moments' var_pop
# numerator) pass exact=False and are exempt. tools/fuzz_oracle.py
# sets this for every sweep EXCEPT tier="magnitude" (r20, closing the
# r19 advice gap where nothing actually set it): on plausible-
# magnitude tiers a query silently crossing the bound fails loudly
# instead of degrading; the magnitude tier deliberately drives values
# beyond the bound, where the claim under test is degraded-regime
# cross-engine determinism, not true rounding.
RDIV_DEBUG_ENV = "SPARK_GRAFT_RDIV_DEBUG"


def dec2d_sql(expr: str) -> str:
    """DuckDB decimal→double cast that matches Spark's at ANY
    magnitude. DuckDB's native ``CAST(DECIMAL AS DOUBLE)`` converts
    the int128 unscaled value to double FIRST and divides by 10^scale
    AFTER — two roundings, up to an ulp below the true value once the
    unscaled integer exceeds 2^53 (caught live by the r19 'nulls'
    fuzz tier, seed 4: u2 = 176024561519819187.0000 cast to
    …1917e17 while Spark's Decimal.toDouble gives the correctly
    rounded …192e17, flipping an rdiv floor at a constructed tie).
    Routing through VARCHAR makes the conversion strtod's single
    correct rounding — exactly Spark's (BigDecimal.doubleValue falls
    back to parseDouble beyond the compact range). Use this for any
    oracle-side decimal→double cast whose unscaled value can exceed
    2^53; below that bound the native cast is already exact."""
    return f"CAST(CAST(({expr}) AS VARCHAR) AS DOUBLE)"


def d2dec_sql(expr: str, prec: int, scale: int) -> str:
    """DuckDB double→DECIMAL cast that matches Spark's at ANY
    magnitude — the MIRROR of ``dec2d_sql`` (r20 'magnitude' fuzz
    tier, q_agg_moments seed 2). Spark's Decimal(double) rounds the
    double's SHORTEST decimal repr (BigDecimal.valueOf →
    Double.toString) to the target scale HALF_UP; DuckDB's native
    cast rounds the double's EXACT binary expansion. Once |x| exceeds
    2^52·10^-scale the entire sub-ulp fraction is binary-expansion
    noise: Spark sees ``.0000`` where DuckDB sees arbitrary digits
    (caught live at p² ~ 7.8e15: per-row casts differed, power sums
    drifted by 2e4 units). Routing through VARCHAR makes DuckDB round
    the same shortest repr with the same half-away ties (verified,
    negatives included). Below the bound the native cast already
    agrees; this form is safe at every magnitude."""
    return f"CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL({prec},{scale}))"


def dec_sum(col: Column | str, prec: int = 18, scale: int = 2) -> Column:
    """Order-independent (exact decimal) sum of a double column,
    surfaced back as DOUBLE. DuckDB twin:
    ``CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({prec},{scale})")).cast("double")


# --- exact half-away rounding of rationals (r18 fuzzer finding) --------
#
# ROUND(double, r) is NOT cross-engine deterministic when its input
# sits on (or within an ulp of) an r-dp decimal tie: Spark rounds
# HALF_UP on the exact binary expansion, DuckDB multiplies by 10^r and
# nearbyints (HALF_EVEN). A mean of k-dp-quantized values over a
# group whose size is 2^a·5^b-structured TERMINATES at the tie with
# probability up to 1/2 per group (proven live: q_udaf_grouped seed 2,
# q_agg_moments / q_ts_seasonal in the forced-size 'ties' tier). The
# fix: evaluate round_half_away(num/den, r) for INTEGER-VALUED num/den
# as sign(num)·FLOOR((2·|num|·10^r + den) / (2·den)) / 10^r, running
# the floor-division in doubles — the chains are identical IEEE ops on
# identical inputs, so both engines agree at ANY magnitude (bit-exact
# vs true rounding while 2·|num|·10^r + den < 2^53, documented).


def rdiv(num: Column, den: Column, round_to: int, *, exact: bool = True) -> Column:
    """round_half_away(num/den, round_to) for integer-valued columns
    (den > 0), exact and engine-portable. SQL twin: ``rdiv_sql``.

    ``exact=True`` (default) declares the caller inside the exactness
    bound 2·|num|·10^r + den < 2^53 — true half-away rounding, checked
    at runtime when ``RDIV_DEBUG_ENV`` is set. ``exact=False`` declares
    the documented DEGRADED regime: beyond the bound the result is
    still cross-engine deterministic (identical IEEE chains both
    sides) but no longer guaranteed to be true half-away rounding of
    the exact rational (num itself may not round-trip through double).
    """
    m = 10 ** round_to
    n_abs = F.abs(num.cast("double"))
    d = den.cast("double")
    arg = F.lit(2.0) * n_abs * m + d
    if exact and os.environ.get(RDIV_DEBUG_ENV):
        # assert_true returns NULL when the predicate holds (and
        # raises otherwise), so coalesce is a zero-cost pass-through.
        # NULL pass-through (r19 advice): a NULL num/den (e.g. an
        # all-NULL group at an unfiltered dec_avg site) makes the
        # comparison NULL, and assert_true raises on NULL — the
        # result must instead propagate NULL like the undebugged path.
        arg = F.coalesce(
            F.assert_true(
                arg.isNull() | (arg < F.lit(float(2 ** 53))),
                F.lit("rdiv(exact=True) input beyond the 2^53 bound"),
            ).cast("double"),
            arg,
        )
    q = F.floor(arg / (F.lit(2.0) * d))
    return (
        F.when(num >= 0, q).otherwise(-q).cast("double") / F.lit(float(m))
    )


def rdiv_sql(num: str, den: str, round_to: int) -> str:
    """DuckDB twin of ``rdiv``: num/den are integer-valued SQL
    expressions (den > 0). Both interpolations are parenthesized
    (r18 advice): splicing a lower-precedence expression (comparison,
    OR) into ``CASE WHEN {num} >= 0`` or ``2.0 * CAST({den} ...)``
    unparenthesized would silently change semantics."""
    m = 10 ** round_to
    num, den = f"({num})", f"({den})"
    return (
        f"(CASE WHEN {num} >= 0 THEN 1 ELSE -1 END) * "
        f"FLOOR((2.0 * ABS(CAST({num} AS DOUBLE)) * {m} "
        f"+ CAST({den} AS DOUBLE)) / (2.0 * CAST({den} AS DOUBLE))) "
        f"/ {m}.0"
    )


def overlap(spark: SparkSession, *thunks: Callable[[], Any]) -> list:
    """Run independent Spark actions concurrently, one driver thread per
    thunk, and return their results in thunk order (``[]`` for none).

    Each thread starts with the caller's JVM local properties
    (``pyspark.inheritable_thread_target``), so the jobs a thunk
    launches run under the caller's job group, description and
    scheduler pool: ``cancelJobGroup`` reaches them and per-group job
    counts include them. A plain pool thread starts with none of these.

    Waits for every thunk, then re-raises the first failure in thunk
    order. On failure, every result with a ``release()`` method (a
    mirror's prepared batch) is released, because no caller will
    consume it."""
    if not thunks:
        return []
    # Wrapped here, in the caller's thread: the wrapper snapshots the
    # local properties when it is built, one copy per thunk.
    targets = [inheritable_thread_target(spark)(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=len(targets)) as pool:
        futures = [pool.submit(t) for t in targets]
    errors = [f.exception() for f in futures]
    failure = next((e for e in errors if e is not None), None)
    if failure is None:
        return [f.result() for f in futures]
    for f, e in zip(futures, errors):
        if e is None and hasattr(f.result(), "release"):
            f.result().release()
    raise failure


def checkpoint_all(spark: SparkSession, *dfs: DataFrame) -> list[DataFrame]:
    """Eager local checkpoints of independent relations, overlapped."""
    return overlap(spark, *[partial(df.localCheckpoint, eager=True)
                            for df in dfs])


# --- tracked persists (r18 advice / r19 persist census) ----------------
#
# Many registered query bodies persist a relation that their RETURNED
# DataFrame still references, so the owner cannot unpersist before
# returning (the text.py BM25 family hit this first, r17). The drain
# pattern bounds steady-state cache growth to one invocation's
# footprint: each new invocation of a participating query releases the
# PREVIOUS invocation's tracked relations before persisting its own.
# Harnesses that clearCache() between queries (drive_entry, bench,
# pytest fixtures) are unaffected; long-lived library consumers stop
# accumulating.

_TRACKED_PERSISTS: list = []


def track_persist(df):
    """Persist ``df`` and register it for ``drain_tracked_persists``."""
    df.persist()
    _TRACKED_PERSISTS.append(df)
    return df


def drain_tracked_persists() -> None:
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def dec_avg(col: Column | str, prec: int = 18, scale: int = 2, round_to: int = 4) -> Column:
    """Deterministic mean of a ``scale``-dp-quantized double column,
    rounded half-away at ``round_to`` dp in exact integer units
    (``rdiv`` over sum·10^scale / count·10^scale). SQL twin:
    ``avg_sql``."""
    c = F.col(col) if isinstance(col, str) else col
    mu = 10 ** scale
    return rdiv(
        F.sum(c.cast(f"decimal({prec},{scale})")) * mu,
        F.count(c) * mu,
        round_to,
    )


def avg_sql(x: str, n: str = "COUNT(*)", prec: int = 18, scale: int = 2,
            round_to: int = 4) -> str:
    """DuckDB twin of ``dec_avg``."""
    mu = 10 ** scale
    return rdiv_sql(
        f"SUM(CAST({x} AS DECIMAL({prec},{scale}))) * {mu}",
        f"{n} * {mu}",
        round_to,
    )
