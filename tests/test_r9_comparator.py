"""Comparator-layer pins for the ADVICE r8 fixes.

half_up must mirror Spark's F.round (BigDecimal.valueOf(double)
.setScale(scale, HALF_UP)) on decimal .5 boundaries: the r8 version
scaled by 10^scale in binary float BEFORE Decimal conversion, so
half_up(1.005, 2) yielded 100 while the JVM yields 101. The fix does
the scaling inside Decimal where it is exact. The JVM check here is
the ground truth, not a python re-derivation.

frames_equal (ADVICE r8, third note): bool cells normalize into the
int kind -- a recompute that models an engine boolean as 0/1 (or vice
versa) compares equal, as it did before r8's type tagging; only the
string/bool distinction the r7 note required survives (the string
'True' never equals the bool True).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.recompute_util import frames_equal, half_up

# Every documented JVM .5-boundary case from ADVICE r7+r8, plus exact
# binary halves and IEEE near-half representations.
BOUNDARY_DOUBLES = [
    1.005,
    0.285,
    8.575,
    -1.005,
    2.675,
    -2.675,
    0.125,  # exact binary .5 at scale 2
    -0.125,
    2.5,
    -2.5,
    0.49999999999999994,  # v+0.5 == 1.0 in IEEE; JVM scale-0 gives 0
    1.0049999999999999,
    123.456,
    0.0,
    -0.0,
]


@pytest.mark.parametrize("scale", [0, 2, 4])
def test_half_up_matches_jvm_round(spark, scale):
    """Ground-truth check: F.round on the JVM vs half_up, over the
    boundary corpus. F.round returns the rounded double; half_up
    returns the scaled integer, so compare got/10^scale == jvm."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(BOUNDARY_DOUBLES)], "i int, v double"
    )
    jvm = {
        r["i"]: r["r"]
        for r in df.select("i", F.round("v", scale).alias("r")).collect()
    }
    got = half_up(BOUNDARY_DOUBLES, scale)
    for i, v in enumerate(BOUNDARY_DOUBLES):
        want = int(
            np.round(jvm[i] * (10**scale))
        )  # jvm result is an exact multiple of 10^-scale
        assert got.iloc[i] == want, (
            f"half_up({v!r}, {scale}) = {got.iloc[i]} but JVM F.round "
            f"gives {jvm[i]!r} (scaled {want})"
        )


def test_half_up_advice_r8_cases():
    """The four ADVICE r8 counterexamples, pinned without Spark so the
    regression is visible even in a sparkless environment."""
    assert half_up([1.005], 2).iloc[0] == 101
    assert half_up([0.285], 2).iloc[0] == 29
    assert half_up([8.575], 2).iloc[0] == 858
    assert half_up([-1.005], 2).iloc[0] == -101
    # exact binary halves still round away from zero
    assert half_up([0.125], 2).iloc[0] == 13
    assert half_up([-0.125], 2).iloc[0] == -13
    # the r7 IEEE boundary keeps its scale-0 behavior
    assert half_up([0.49999999999999994], 0).iloc[0] == 0


def test_frames_equal_bool_int_normalize():
    frames_equal(
        pd.DataFrame({"k": [1, 2], "flag": [True, False]}),
        pd.DataFrame({"k": [1, 2], "flag": [1, 0]}),
    )
    # numpy bool too
    frames_equal(
        pd.DataFrame({"flag": np.array([True])}),
        pd.DataFrame({"flag": [1]}),
    )


def test_frames_equal_bool_string_still_distinct():
    with pytest.raises(AssertionError):
        frames_equal(
            pd.DataFrame({"flag": [True]}),
            pd.DataFrame({"flag": ["True"]}),
        )


def test_rowdigest_order_insensitive_and_sensitive_to_change():
    """oracle_check's chunked-digest mode (VERDICT r8 #3): the
    commutative (count, sum, xor) summary must be order-insensitive
    over the row multiset, respect duplicates, and flip on any single
    cell change."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from oracle_check import RowDigest, canon

    rows = [(1, "a", canon(1.5)), (2, "b", canon(float("nan"))), (1, "a", canon(1.5))]
    a, b = RowDigest(), RowDigest()
    for r in rows:
        a.update(r)
    for r in reversed(rows):
        b.update(r)
    assert a == b
    # dropping one duplicate changes the multiset
    c = RowDigest()
    for r in rows[:2]:
        c.update(r)
    assert not (a == c)
    # a single-cell change flips the digest even at equal count
    d = RowDigest()
    for r in [(1, "a", canon(1.5)), (2, "b", canon(float("nan"))), (1, "a", canon(1.6))]:
        d.update(r)
    assert not (a == d)
