"""plans.session.build_session: the one session builder and its ownership
rule — the code sets the engine keys, the launcher owns master, memory, UI
and sizing unless ``cores=K`` asks for the local sandbox."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENGINE = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.parquet.compression.codec": "snappy",
}
SIZING = (
    "spark.sql.shuffle.partitions",
    "spark.sql.files.minPartitionNum",
    "spark.sql.sources.parallelPartitionDiscovery.parallelism",
)

_LAUNCHED_SCRIPT = r"""
import json, sys
from paddle_spark.plans import build_session

keys = json.loads(sys.argv[1])
spark = build_session("t")
print(json.dumps({
    "master": spark.sparkContext.master,
    "ui": spark.sparkContext.getConf().get("spark.ui.enabled"),
    "conf": {k: spark.conf.get(k, None) for k in keys},
}))
spark.stop()
"""


def test_cores_k_sets_engine_and_local_sizing(spark):
    """The conftest session (cores=4, shuffle_partitions=8) carries every
    engine key plus the local deployment and sizing."""
    for k, v in ENGINE.items():
        assert spark.conf.get(k) == v, k
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.files.minPartitionNum") == "4"
    assert spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.parallelism") == "4"
    assert spark.sparkContext.master == "local[4]"
    assert spark.sparkContext.getConf().get("spark.ui.enabled") == "false"


def test_launcher_owns_deployment_and_sizing():
    """Without cores, build_session leaves master and sizing to the
    launcher (here PYSPARK_SUBMIT_ARGS, as spark-submit would pass them)
    and still sets the engine keys. Own process: no session exists yet."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--master local[2] --conf spark.sql.shuffle.partitions=3 pyspark-shell"
    )
    keys = [*ENGINE, *SIZING]
    proc = subprocess.run(
        [sys.executable, "-c", _LAUNCHED_SCRIPT, json.dumps(keys)],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["master"] == "local[2]"
    assert res["ui"] is None
    assert res["conf"]["spark.sql.shuffle.partitions"] == "3"
    assert res["conf"]["spark.sql.files.minPartitionNum"] is None
    assert res["conf"][
        "spark.sql.sources.parallelPartitionDiscovery.parallelism"] is None
    for k, v in ENGINE.items():
        assert res["conf"][k] == v, k


def test_sessions_built_in_one_place():
    """No program file builds a session by hand; only plans/session.py and
    the local[2,2] retry subprocess (which needs 2 task attempts) do."""
    allowed = {
        os.path.join(ROOT, "paddle_spark", "plans", "session.py"),
        os.path.join(ROOT, "tests", "test_checkpoint_resume.py"),
        os.path.abspath(__file__),
    }
    offenders = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for name in filenames:
            path = os.path.join(dirpath, name)
            if name.endswith(".py") and path not in allowed:
                with open(path, encoding="utf-8") as fh:
                    if "SparkSession.builder" in fh.read():
                        offenders.append(os.path.relpath(path, ROOT))
    assert offenders == []


def test_no_spark_internals_outside_explain_str():
    """No library decision reads Spark internals: ``_jdf``/``_jvm`` appear
    in ``paddle_spark/`` only inside ``plans/session.explain_str``, the
    plan-capture helper."""
    import ast
    import re

    internals = re.compile(r"\b_j(?:df|vm)\b")
    session_py = os.path.join(ROOT, "paddle_spark", "plans", "session.py")
    offenders = []
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, "paddle_spark")):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "__"))]
        for name in filenames:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py"):
                continue
            with open(path, encoding="utf-8") as fh:
                lines = fh.read().splitlines()
            if path == session_py:
                (fn,) = [n for n in ast.parse("\n".join(lines)).body
                         if isinstance(n, ast.FunctionDef) and n.name == "explain_str"]
                lines[fn.lineno - 1:fn.end_lineno] = []
            offenders += [f"{os.path.relpath(path, ROOT)}: {ln.strip()}"
                          for ln in lines if internals.search(ln)]
    assert offenders == []
