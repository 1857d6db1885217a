"""The session build_session makes (the test fixture builds it too)."""

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F


def test_session_skips_dataframe_call_site_capture(spark):
    """build_session turns off PySpark's DataFrame debugging (the per-call
    origin capture behind every functions/Column call); analysis errors
    still raise, only without the Python call site."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
    with pytest.raises(AnalysisException):
        spark.range(1).select(F.col("no_such_column"))
