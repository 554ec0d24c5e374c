"""Deterministic surrogate-key kernels.

The reference content-addresses toponyms as
``toponym-{sheetId}-{base62(md5(coords.join(',')))}``
(building-inspector.js:207-209). md5-of-concat is native in Spark;
base62-of-a-hex-string is not (F.conv caps at base 36 / 64 bits), so
that one step is an Arrow-vectorized pandas_udf -- the only Python in
this module.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_B62 = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _encode_b62(n: int) -> str:
    if n == 0:
        return "0"
    out = []
    while n:
        n, r = divmod(n, 62)
        out.append(_B62[r])
    return "".join(reversed(out))


@F.pandas_udf(T.StringType())
def base62_of_hex(hex_s: pd.Series) -> pd.Series:
    """base62(int(hex, 16)) -- matches base-62.js encodeHex semantics
    used at building-inspector.js:209. Vectorized over Arrow batches;
    the per-value bigint loop is unavoidable (128-bit ints).

    Parity status (ADVICE r01): the reference's lockfile pins
    base-62.js@0.9.9 with a big.js dependency, confirming
    whole-hex-as-one-big-integer semantics (not per-chunk encoding);
    the digit alphabet 0-9a-zA-Z is the package's documented default
    but could not be re-verified offline (no node_modules vendored, no
    network) -- if upstream goldens ever become available, pin a few
    real toponym-{sheet}-{b62} ids in tests/test_functions.py."""
    return hex_s.map(lambda h: _encode_b62(int(h, 16)) if h is not None else None)


def md5_surrogate(*cols: Column | str, sep: str = ",") -> Column:
    """Content hash of the given columns -- JVM-native (stays inside
    whole-stage codegen)."""
    return F.md5(F.concat_ws(sep, *[F.col(c) if isinstance(c, str) else c for c in cols]))

