"""Session confs: ``catalog._RUNTIME_CONFS`` is the one owner of the
runtime SQL confs, and ``get_spark`` applies them itself — a session
is configured before its first ``load_table``."""

from __future__ import annotations

from advanced_technologies_of_china_graph_database_construction_spark import get_spark
from advanced_technologies_of_china_graph_database_construction_spark.catalog import (
    _CONF_SENTINEL,
    _RUNTIME_CONFS,
    ensure_runtime_confs,
)


def test_get_spark_applies_every_runtime_conf(spark):
    """Clear the sentinel and every runtime conf, then call get_spark:
    with no load_table in between, the sentinel is set again and every
    ``_RUNTIME_CONFS`` value is live."""
    for k in (_CONF_SENTINEL, *_RUNTIME_CONFS):
        spark.conf.unset(k)
    try:
        s = get_spark("atcgdc-tests")
        assert s.conf.get(_CONF_SENTINEL, None) == "true"
        assert {k: s.conf.get(k) for k in _RUNTIME_CONFS} == _RUNTIME_CONFS
    finally:
        spark.conf.unset(_CONF_SENTINEL)
        ensure_runtime_confs(spark)
