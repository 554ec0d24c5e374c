"""Deterministic surrogate-key kernels.

The reference content-addresses toponyms as
``toponym-{sheetId}-{base62(md5(coords.join(',')))}``
(building-inspector.js:207-209). md5-of-concat is native in Spark.
base62 of the 128-bit md5 is too, though no built-in does it (F.conv
caps at base 36 / 64 bits): base62_of_md5 long-divides the hash as
four 32-bit limbs in one higher-order aggregate, so no step of the
surrogate leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_B62 = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LIMBS = 4  # 32-bit limbs of a 128-bit md5, most significant first
_DIGITS = 22  # 62**22 > 2**128


def base62_of_md5(hex_col: Column) -> Column:
    """base62(int(hex, 16)) of a 32-digit md5 hex string -- the
    base-62.js encodeHex semantics used at building-inspector.js:209
    (whole hex as one big integer, digits 0-9a-zA-Z). NULL stays NULL.

    Each of the 22 rounds divides the limbs by 62, most significant
    first, carrying the remainder down: c = r * 2^32 + limb < 62 * 2^32,
    so long arithmetic never overflows and floor(c / 62.0) is exact
    (c and the quotient fit a double's 53 bits). The last remainder is
    the next digit, prepended. Leading zeros are stripped afterwards,
    keeping one for the zero hash -- the DuckDB twin's recursive divmod
    (plans/queries_surface._b62_sql) in a fixed number of rounds.

    Parity status: the reference's lockfile pins
    base-62.js@0.9.9 with a big.js dependency, confirming
    whole-hex-as-one-big-integer semantics (not per-chunk encoding);
    the digit alphabet is the package's documented default but could
    not be re-verified offline (no node_modules vendored) -- if
    upstream goldens ever become available, pin a few real
    toponym-{sheet}-{b62} ids in tests/test_functions.py."""
    init = F.struct(
        *(
            F.conv(F.substring(hex_col, 8 * i + 1, 8), 16, 10).cast("long").alias(f"l{i}")
            for i in range(_LIMBS)
        ),
        F.lit("").alias("s"),
    )

    def divide(acc: Column, _: Column) -> Column:
        quotients, r = [], F.lit(0).cast("long")
        for i in range(_LIMBS):
            c = r * F.lit(2**32) + acc.getField(f"l{i}")
            quotients.append(F.floor(c / F.lit(62.0)).alias(f"l{i}"))
            r = c % F.lit(62)
        digit = F.substring(F.lit(_B62), r + F.lit(1), F.lit(1))
        return F.struct(*quotients, F.concat(digit, acc.getField("s")).alias("s"))

    digits = F.aggregate(
        F.sequence(F.lit(1), F.lit(_DIGITS)), init, divide
    ).getField("s")
    return F.regexp_replace(digits, "^0+(?=.)", "")


def md5_surrogate(*cols: Column | str) -> Column:
    """Content hash of the given columns, comma-joined -- JVM-native
    (stays inside whole-stage codegen)."""
    return F.md5(F.concat_ws(",", *[F.col(c) if isinstance(c, str) else c for c in cols]))
