"""Cross-engine numeric compatibility for the DuckDB value-hash oracle.

Measured divergence (this session): on the *identical* double
2348.325 (binary 2348.32499999999982), Spark's round() gives 2348.33
(it rounds the shortest decimal representation, java.math.BigDecimal
semantics) while DuckDB gives 2348.32 (it rounds the binary value,
std::round semantics). Any aggregate landing near a .xx5 boundary can
therefore hash-mismatch even with bit-identical inputs.

Two defenses, used together (SURVEY.md §5.2):

1. **Integer-cents arithmetic** for money sums/averages: summing exact
   BIGINT cents has zero cross-engine noise regardless of summation
   order — at 100 TB, double sums of ~1e10 magnitude can differ across
   engines by far more than a rounding epsilon, so this is the only
   robust choice (it is also the classic decimal-safe money pattern).
2. **Epsilon-nudged rounding**: round(x + 1e-(n+4), n) on BOTH engines
   pushes exact rounding ties consistently upward, so the two engines'
   differing tie semantics never get a chance to disagree.

Every Spark helper here has a mirror that emits the equivalent DuckDB
SQL fragment, so the Spark expression and the oracle can never drift;
``np_round_half_up`` is ``rnd``'s numpy twin for the block lanes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# eps per rounding scale: far above cross-engine ulp noise, far below
# anything the fixture data can legitimately distinguish.
EPS = {0: 1e-4, 1: 1e-5, 2: 1e-6, 4: 1e-8, 6: 1e-10}


def rnd(col: Column, n: int = 2) -> Column:
    """Tie-stable round: round(x + eps, n). The trailing ``+ 0.0``
    normalizes IEEE negative zero: Spark's BigDecimal-based round can
    never emit -0.0 but DuckDB's std::round does (any negative value
    rounding to zero), and the two stringify differently in the value
    hash — found via the sf0.1 full-oracle sweep (b_scalar_array
    first_elem, c_embed_centroids)."""
    return F.round(col + F.lit(EPS[n]), n) + F.lit(0.0)


def np_round_half_up(n: int):
    """numpy twin of rnd(col, n) for the single-task block lanes:
    HALF_UP (away-from-zero) rounding of x + EPS[n] to n decimals, with
    a Decimal audit of knife-edge values (|scaled frac − .5| < 1e-6)
    where binary floor(+0.5) could disagree with Spark's
    BigDecimal(shortest-repr) reading. The audit set is empty on every
    fixture (the EPS nudge keeps true values off exact halves); it
    exists so a lane can never silently diverge. Returns the rounding
    function, built in the driver so mapInPandas closures capture it by
    value."""
    import numpy as np

    eps = EPS[n]
    scale = 10.0 ** n

    def r(x):
        y = np.asarray(x, dtype=np.float64) + eps
        ay = np.abs(y)
        scaled = ay * scale
        out = np.floor(scaled + 0.5)
        # audit on raveled views so n-dim inputs (the (n, K) sim
        # matrices) index correctly
        flat_s, flat_a, flat_o = scaled.ravel(), ay.ravel(), out.reshape(-1)
        risky = np.flatnonzero(
            np.abs((flat_s - np.floor(flat_s)) - 0.5) < 1e-6
        )
        if len(risky):
            from decimal import ROUND_HALF_UP, Decimal

            q = Decimal(1).scaleb(-n)
            for i in risky:
                flat_o[i] = float(
                    Decimal(repr(float(flat_a[i]))).quantize(
                        q, rounding=ROUND_HALF_UP
                    )
                ) * scale
        return np.where(y < 0, -out, out) / scale + 0.0

    return r


def cents(col: Column) -> Column:
    """Money double → exact BIGINT cents (tie-nudged)."""
    return F.round(col * 100 + F.lit(EPS[0])).cast("long")


def money_sum(col: Column) -> Column:
    """Σ money as cents → 2dp double; bit-stable across engines."""
    return rnd(F.sum(cents(col)) / 100.0, 2)


def money_avg(col: Column, n: int = 2) -> Column:
    """Mean money as cents/count; division sequence (Σc/100.0)/n is
    identical IEEE arithmetic on both engines."""
    return rnd(F.sum(cents(col)) / 100.0 / F.count(F.lit(1)), n)


# --- DuckDB SQL mirrors (string fragments) ---------------------------------


def sql_rnd(expr: str, n: int = 2) -> str:
    return f"(round(({expr}) + {EPS[n]!r}, {n}) + 0.0)"


def sql_cents(expr: str) -> str:
    return f"CAST(round(({expr}) * 100 + {EPS[0]!r}) AS BIGINT)"


def sql_money_sum(expr: str) -> str:
    return sql_rnd(f"sum({sql_cents(expr)}) / 100.0", 2)


def sql_money_avg(expr: str, n: int = 2) -> str:
    return sql_rnd(f"sum({sql_cents(expr)}) / 100.0 / count(*)", n)
