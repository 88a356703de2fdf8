"""The driver JVM touches its heap as it commits it.

``session.get_spark`` passes ``-XX:+AlwaysPreTouch`` as a default
driver option, so a heap fixed at start (``-Xms`` = ``-Xmx``) is
resident from launch and a run's peak memory does not depend on when
G1 happened to collect.
"""

from __future__ import annotations

import inspect
import subprocess
import sys


def vm_option(spark, name: str) -> str:
    jvm = spark._jvm
    bean_class = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_class)
    return bean.getVMOption(name).getValue()


def test_driver_jvm_pretouches_its_heap(spark):
    assert vm_option(spark, "AlwaysPreTouch") == "true"


#: run in a new interpreter: JVM options apply only when the JVM starts
_WITH_CALLER_OPTIONS = inspect.getsource(vm_option) + """
from etl_procedure_codes_crawler_spark.session import get_spark

spark = get_spark(extra_conf={"spark.driver.extraJavaOptions": "-Xms256m"})
print(vm_option(spark, "AlwaysPreTouch"), vm_option(spark, "InitialHeapSize"))
spark.stop()
"""


def test_caller_java_options_keep_the_pretouch(tmp_path):
    # perfbench fixes its heap this way (-Xms in extraJavaOptions); Spark
    # prepends the default options to the caller's
    proc = subprocess.run(
        [sys.executable, "-c", _WITH_CALLER_OPTIONS],
        capture_output=True, text=True, cwd=tmp_path, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    pretouch, initial_heap = proc.stdout.split()[-2:]
    assert pretouch == "true"
    assert int(initial_heap) == 256 * 2**20
