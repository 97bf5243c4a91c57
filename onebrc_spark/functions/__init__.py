"""Scalar / array / JSON expression surface (SURVEY §2.8).

`round_long` lives here rather than in `scalar.py` so operator and source
modules can import it without registering the `fn_*` queries early (which
would reorder the registry).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_long(x: str) -> Column:
    """`CAST(round(x) AS BIGINT)` for a DOUBLE SQL expression `x`, bit for
    bit, without BigDecimal: the engine's one integer quantizer (cents =
    `round_long("price * 100")`, the mlprep mix weight =
    `round_long("sqrt(CAST(n_total AS DOUBLE)) * 1000")`).

    Spark's Round on a double goes through `BigDecimal.valueOf(x)` (a
    `Double.toString` and a BigDecimal per row, about a third of the
    flagship's scan-stage CPU) and rounds that shortest-decimal view
    HALF_UP. This kernel rounds the binary value instead, in plain double
    arithmetic: `r = rint(x)` (nearest, ties to even), and where x sits
    exactly on a tie (`|x - r| = 0.5`) it returns `x + signum(x) * 0.5`,
    i.e. half away from zero. The two agree on every double:

    - |x| < 2^52: every k + 0.5 is an exact double, so the shortest decimal
      of x ends in .5 iff x IS the tie (a repr on the far side of a tie
      would be nearer the tie's own double than x). Off ties both pick the
      nearest integer; on ties both go away from zero. `x - r` is exact
      (|x - r| <= 0.5 and r is x's nearest integer), so the tie test never
      misfires, and `x ± 0.5` at a tie is an exact integer.
    - |x| >= 2^52: every double is already an integer; both return x.
    - NULL stays NULL (the tie test is NULL, the ELSE yields rint(NULL)).
    - NaN and ±Inf pass through rint unchanged and reach the same ANSI
      `CAST_OVERFLOW` as `round(x)` does; so does any |x| >= 2^63.

    Both DuckDB's `CAST(round(x) AS BIGINT)` and pyarrow's
    `half_towards_infinity` round the binary value half away from zero, so
    the oracles and the Arrow scan twin compute the same integers.

    `x` is SQL text (a DOUBLE expression over the frame's columns) so the
    kernel is built with one `F.expr` parse: in the Column API every
    operator costs about ten py4j round trips (pyspark records each call
    site), which would make this kernel cost ~100 per use instead of 3.

    Pinned row by row against `round` by tests/test_round_long.py; the
    lint in tests/test_determinism_lint.py keeps
    `F.round(x * 100).cast(...)` from coming back.
    """
    return F.expr(
        f"CAST(CASE WHEN abs(({x}) - rint({x})) = 0.5D"
        f" THEN ({x}) + signum({x}) * 0.5D ELSE rint({x}) END AS BIGINT)"
    )
