"""The session's compile policy (session.py): generated classes are
compiled once per JVM, and the JIT flags reach the session's JVM even
when the caller brings its own ``extraJavaOptions``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from quant_feature_pipeline_spark.session import JIT_OPTIONS

from .conftest import make_bars_pdf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _compile_count(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeat_flagship_compiles_nothing(spark):
    """A second identical run_flagship finds every generated class in
    the codegen cache: one 4-timeframe run needs more classes than
    Spark's default 100 entries, which made each repeat recompile."""
    from quant_feature_pipeline_spark.config import PipelineConfig
    from quant_feature_pipeline_spark.plans.flagship import run_flagship

    bars = spark.createDataFrame(make_bars_pdf())
    cfg = PipelineConfig()
    first = run_flagship(bars, cfg).collect()
    spark.catalog.clearCache()
    before = _compile_count(spark)
    second = run_flagship(bars, cfg).collect()
    spark.catalog.clearCache()
    assert _compile_count(spark) - before == 0
    assert len(second) == len(first) > 0


def test_jit_flags_reach_session_jvm(tmp_path):
    """The tier-4 flags are in the JVM's input arguments, next to a
    caller's own driver extraJavaOptions. A fresh process, since
    getOrCreate would hand back this process's session."""
    marker = f"-Djava.io.tmpdir={tmp_path}"
    code = (
        "import json\n"
        "from quant_feature_pipeline_spark.session import get_spark\n"
        "s = get_spark(cpus=1, extra_conf={\n"
        "    'spark.ui.showConsoleProgress': 'false',\n"
        f"    'spark.driver.extraJavaOptions': {marker!r}}})\n"
        "mx = s._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()\n"
        "print(json.dumps(list(mx.getInputArguments())))\n"
        "s.stop()\n"
    )
    p = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300, cwd=REPO,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    args = json.loads(p.stdout.strip().splitlines()[-1])
    for flag in JIT_OPTIONS.split():
        assert flag in args, (flag, args)
    assert marker in args, args
