"""oracle_check's compare: doubles that straddle a 9-significant-digit
rounding boundary still match; a difference at the ninth digit, whatever
the leading digit, does not, and neither does a change of column type."""
import math
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import oracle_check  # noqa: E402


def straddling_pair(near):
    """Two adjacent doubles near `near` that round to different 9-digit
    values."""
    x = near
    for _ in range(64):
        y = math.nextafter(x, math.inf)
        if f"{x:.9g}" != f"{y:.9g}":
            return x, y
        x = math.nextafter(x, -math.inf)
    raise AssertionError(f"no rounding boundary near {near}")


def frame(z):
    return pd.DataFrame({"k": [1, 2], "z": [0.5, z]})


@pytest.mark.parametrize("near", [1.234567885, 9.234567885, -923456788.5, 9.234567885e-7])
def test_doubles_straddling_a_rounding_boundary_match(near):
    x, y = straddling_pair(near)
    duck, spark = frame(x), frame(y)
    # the rounded forms differ, so only the row-by-row compare accepts them
    assert not oracle_check.canon(duck).equals(oracle_check.canon(spark))
    assert oracle_check.compare(duck, spark) is None


@pytest.mark.parametrize("x, y", [
    (1.23456789, 1.23456788),
    (9.23456789, 9.23456788),
    (5.00000001, 5.00000002),
    (-923456789.0, -923456788.0),
    (9.23456789e-7, 9.23456788e-7),
])
def test_a_row_differing_at_the_ninth_digit_fails(x, y):
    err = oracle_check.compare(frame(x), frame(y))
    assert err is not None and "z" in err


def test_a_double_column_does_not_match_an_integer_one():
    err = oracle_check.compare(pd.DataFrame({"z": [3.0]}), pd.DataFrame({"z": [3]}))
    assert err is not None and "types" in err
