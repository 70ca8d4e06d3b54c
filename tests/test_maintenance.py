from __future__ import annotations


def test_zorder_rejects_sign_bit_overflow(spark):
    """bits*len(cols) > 63 would interleave into the long sign bit and
    invert the top half of the curve — must raise, not silently break
    min/max skipping."""
    import pytest

    from travel_data_ingestion_spark.maintenance import zorder_value

    with pytest.raises(ValueError, match="sign bit"):
        zorder_value(["a", "b", "c", "d"], bits=16, boundaries={})
    # 63 bits exactly is fine structurally (boundaries consulted later)
    with pytest.raises(KeyError):  # gets past the guard, then needs cuts
        zorder_value(["a"], bits=63, boundaries={})
