"""get_spark reads its static confs back after the session starts."""

from __future__ import annotations

import logging

from tabsdata_spark import session


def test_ignored_static_codegen_cache_conf_is_logged(spark, monkeypatch,
                                                     caplog):
    # the JVM's session already exists, so the builder's static value is
    # ignored on attach — exactly the case the readback must surface
    effective = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    monkeypatch.setattr(session, "CODEGEN_CACHE_ENTRIES", "100")
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.get_spark(app_name="tabsdata-spark-tests",
                          shuffle_partitions=8)
    assert (f"spark.sql.codegen.cache.maxEntries is {effective}, not 100"
            in caplog.text)
