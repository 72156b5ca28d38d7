"""py4j name resolution on the steering loop's hot paths.

py4j resolves a dot-free name on a JVMView (``jvm.PythonUtils``) by probing
the name and then each of the gateway's star imports, and each attribute of
a JavaPackage (``jvm.py4j.reflection``) by one more lookup; every miss is a
``Class.forName`` that scans the whole driver classpath. ``get_spark``
resolves the names PySpark looks up per call once per gateway, and
``plans`` resolves its classes by dotted name, so the fingerprint pass and a
censored run make none of those lookups.
"""

from __future__ import annotations

import pytest
from py4j.java_gateway import JavaPackage, JVMView, is_instance_of
from pyspark import SparkContext

from limeqo_spark import hints as H
from limeqo_spark.session import HOT_NAMES, get_spark
from limeqo_spark.steer import hint_plans, run_steered
from limeqo_spark.workloads import steering_workload


@pytest.fixture
def probing_lookups(monkeypatch) -> list[str]:
    """The names looked up by probing while the test runs: dot-free names
    on a JVMView and every attribute of a JavaPackage."""
    seen: list[str] = []
    view_getattr, package_getattr = JVMView.__getattr__, JavaPackage.__getattr__

    def on_view(self, name):
        if "." not in name:
            seen.append(name)
        return view_getattr(self, name)

    def on_package(self, name):
        seen.append(f"{self._fqn}.{name}")
        return package_getattr(self, name)

    monkeypatch.setattr(JVMView, "__getattr__", on_view)
    monkeypatch.setattr(JavaPackage, "__getattr__", on_package)
    return seen


def test_is_instance_of_makes_no_probing_lookup(spark, probing_lookups):
    assert not is_instance_of(SparkContext._gateway, spark._jsparkSession, "java.lang.String")
    assert probing_lookups == []


def test_fingerprint_pass_makes_no_probing_lookup(spark, sf_dir, probing_lookups):
    build = steering_workload(spark, sf_dir)["star_5way"]
    hint_sets = [H.REGISTRY[0], H.REGISTRY[17], H.REGISTRY[48]]
    _, _, texts = hint_plans(spark, build, hint_sets)
    assert len(texts) == 3
    assert probing_lookups == []


def test_censored_run_makes_no_probing_lookup(spark, sf_dir, probing_lookups):
    hs = H.REGISTRY[0]
    _, planned, _ = hint_plans(spark, steering_workload(spark, sf_dir)["star_5way"], [hs])
    probing_lookups.clear()
    run = run_steered(spark, planned[0], hs, timeout_s=0.001)
    assert run.latency is None
    assert probing_lookups == []


def test_get_spark_keeps_the_resolved_names(spark):
    jvm = SparkContext._gateway.jvm
    assert spark._jvm is jvm
    before = {name: vars(jvm)[name] for name in [*HOT_NAMES, "py4j"]}
    again = get_spark("limeqo_tests", shuffle_partitions=8)
    assert again is spark
    assert all(vars(jvm)[name] is obj for name, obj in before.items())
    assert {name: vars(jvm)[name]._fqn for name in HOT_NAMES} == HOT_NAMES
    assert jvm.py4j.reflection.TypeUtil._fqn == "py4j.reflection.TypeUtil"
