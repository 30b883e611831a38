"""The engine session's launch conf (session.launch_conf)."""

from __future__ import annotations

import pytest

from waterdata_spark import session
from waterdata_spark.session import DRIVER_JAVA_OPTIONS, jit_flag_applies, launch_conf

JAVA_OPTS = "spark.driver.extraJavaOptions"


@pytest.fixture()
def four_cpus(monkeypatch):
    monkeypatch.setattr(session, "jit_flag_applies", lambda: True)


def test_jit_flag_only_where_hotspot_starts_three_compiler_threads():
    assert [n for n in range(1, 65) if jit_flag_applies(n)] == [4, 5, 6, 7]


def test_jit_flag_leads_extra_java_options(four_cpus):
    conf = launch_conf()
    assert conf[JAVA_OPTS] == DRIVER_JAVA_OPTIONS == "-XX:CICompilerCount=2"
    # the site's spark-defaults.conf keeps its driver defaults
    assert "spark.driver.defaultJavaOptions" not in conf
    assert launch_conf(extra_conf={JAVA_OPTS: "-Xss4m"})[JAVA_OPTS] == "-XX:CICompilerCount=2 -Xss4m"


def test_extra_conf_overrides_jit_flag(four_cpus):
    """HotSpot takes the last of a repeated -XX flag, so the caller's
    setting must come after the default one."""
    opts = launch_conf(extra_conf={JAVA_OPTS: "-XX:CICompilerCount=4"})[JAVA_OPTS].split()
    assert opts[-1] == "-XX:CICompilerCount=4"


def test_no_jit_flag_on_unmeasured_hosts(monkeypatch):
    monkeypatch.setattr(session, "jit_flag_applies", lambda: False)
    assert JAVA_OPTS not in launch_conf()
    assert launch_conf(extra_conf={JAVA_OPTS: "-Xss4m"})[JAVA_OPTS] == "-Xss4m"


def test_driver_jvm_launched_with_flag(spark):
    """The launcher honors the key: the test session's JVM (started by
    get_spark) runs with the flag exactly where it applies."""
    args = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    assert ("-XX:CICompilerCount=2" in list(args)) == jit_flag_applies()
