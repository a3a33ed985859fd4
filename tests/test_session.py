"""``get_spark`` defaults: with no override set, the session is sized to
the host it runs on."""

from __future__ import annotations

import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json
from severless_data_pipeline_aws_spark.session import get_spark
spark = get_spark(app_name="session-defaults-probe")
sc = spark.sparkContext
print(json.dumps({
    "master": sc.master,
    "max_heap": sc._jvm.java.lang.Runtime.getRuntime().maxMemory(),
}))
spark.stop()
"""


def test_defaults_follow_the_host():
    """A fresh process with neither SPARK_GRAFT_CPUS nor
    SPARK_GRAFT_DRIVER_MEM set runs ``local[<usable cores>]`` with a
    driver heap no larger than the host's physical memory."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")
    }
    run = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=_REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    got = json.loads(run.stdout.strip().splitlines()[-1])
    assert got["master"] == f"local[{len(os.sched_getaffinity(0))}]"
    host = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert got["max_heap"] <= host
