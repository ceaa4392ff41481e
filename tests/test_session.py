"""Session configuration applied to a session the caller owns."""

from __future__ import annotations

from pyspark.errors import utils as err_utils
from pyspark.sql import functions as F

from getdbt_spark.session import RUNTIME_CONFS, configure

DEBUG_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def test_configure_applies_df_debugging_after_a_wrapped_call(spark):
    """The debugging conf is static and PySpark caches it at the first
    wrapped DataFrame/Column call, so a session the caller built keeps
    whatever that call read; configure() must still apply its value
    (off unless GETDBT_SPARK_DF_DEBUG=1)."""
    want = RUNTIME_CONFS[DEBUG_CONF] == "true"
    # what a first wrapped call leaves behind on a session built with
    # the other value (PySpark's default is on)
    err_utils._enable_debugging_cache = not want
    spark.range(1).select(F.col("id") + 1)
    assert err_utils.is_debugging_enabled() is not want
    configure(spark)
    assert err_utils.is_debugging_enabled() is want
