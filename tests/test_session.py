"""The session factory's pinned settings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_session_pins_ansi_mode(spark):
    """ANSI mode is set explicitly, not inherited from a default, so the
    integer-exact operators' overflow checks hold on any deployment."""
    assert spark.sparkContext.getConf().get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        spark.range(1).select(
            F.lit(2**62).cast("bigint") * F.lit(4).cast("bigint")
        ).collect()
