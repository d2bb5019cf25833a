from decimal import Decimal

from perfbench.oracle import Answer


def test_order_of_rows_and_columns_does_not_matter():
    a = Answer(["b", "a"], [(2, "x"), (1, "y")])
    b = Answer(["a", "b"], [("y", 1), ("x", 2)])
    assert a.mismatch(b) is None


def test_decimal_equals_float_but_signed_zero_is_strict():
    assert Answer(["v"], [(Decimal("1.5"),)]).mismatch(Answer(["v"], [(1.5,)])) is None
    assert Answer(["v"], [(-0.0,)]).mismatch(Answer(["v"], [(0.0,)])) is not None
    assert Answer(["v"], [(float("nan"),)]).mismatch(Answer(["v"], [(float("nan"),)])) is None
    assert Answer(["v"], [(None,)]).mismatch(Answer(["v"], [("\x00NULL",)])) is not None


def test_reports_columns_then_row_count_then_rows():
    base = Answer(["a"], [(1,), (2,)])
    assert "columns" in base.mismatch(Answer(["b"], [(1,), (2,)]))
    assert "row count" in base.mismatch(Answer(["a"], [(1,)]))
    assert "differing row" in base.mismatch(Answer(["a"], [(1,), (3,)]))
