"""paddle_spark.worker: the zip-directory re-read fix for Python workers.

Every check that installs the fix runs in its own interpreter, so the
pytest process (the driver of the shared session) stays unpatched."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipimport

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, *args: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    proc = subprocess.run(
        [sys.executable, "-c", script, *args],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


_ZIP_SCRIPT = r"""
import importlib, json, os, sys, zipfile, zipimport

from paddle_spark import worker

tmp = sys.argv[1]
stdlib = zipimport.zipimporter.invalidate_caches


def write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


first = os.path.join(tmp, "first.zip")
write_zip(first, {"zw_pkg/__init__.py": "", "zw_pkg/a.py": "V = 1\n"})
sys.path.insert(0, first)
import zw_pkg.a

worker.install()
worker.install()
patched = zipimport.zipimporter.invalidate_caches
importlib.invalidate_caches()

# a zip put on sys.path after the fix imports
late = os.path.join(tmp, "late.zip")
write_zip(late, {"zw_late.py": "V = 2\n"})
sys.path.insert(0, late)
importlib.invalidate_caches()
import zw_late

# the same zip rewritten in place, with a module only the new one has
write_zip(first, {"zw_pkg/__init__.py": "", "zw_pkg/a.py": "V = 1\n",
                  "zw_pkg/b.py": "V = 3\n"})
importlib.invalidate_caches()
import zw_pkg.b

# importing again returns the same objects
a_again = importlib.import_module("zw_pkg.a")
importlib.invalidate_caches()
import zw_pkg.a as a_third

print(json.dumps({
    "changed": patched is not stdlib,
    "idempotent": getattr(patched, "_skips_unchanged", False)
                  and zipimport.zipimporter.invalidate_caches is patched,
    "late": zw_late.V,
    "rewritten": zw_pkg.b.V,
    "same": a_again is zw_pkg.a and a_third is zw_pkg.a,
}))
"""


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the fix is for < 3.13")
def test_patched_importers_still_see_new_and_rewritten_zips(tmp_path):
    res = _run(_ZIP_SCRIPT, str(tmp_path))
    assert res == {"changed": True, "idempotent": True, "late": 2,
                   "rewritten": 3, "same": True}


_NOOP_SCRIPT = r"""
import json, sys, zipimport

sys.version_info = (3, 13, 0, "final", 0)
from paddle_spark import worker

stdlib = zipimport.zipimporter.invalidate_caches
worker.install()
print(json.dumps({"same": zipimport.zipimporter.invalidate_caches is stdlib}))
"""


def test_install_is_a_no_op_from_python_3_13():
    assert _run(_NOOP_SCRIPT) == {"same": True}


def test_driver_stays_unpatched(spark, tiny_pages):
    """The fix is installed only inside the kernels' worker bodies: after
    an extraction job and a per-item map have run, the driver's
    ``invalidate_caches`` is still the stdlib function."""
    from paddle_spark.operators.blocks import extract_blocks
    from paddle_spark.operators.extract_job import extract_pages

    assert extract_pages(tiny_pages).count() == tiny_pages.count()
    extract_blocks(tiny_pages).count()
    fn = zipimport.zipimporter.invalidate_caches
    assert fn.__module__ == "zipimport"
    assert not getattr(fn, "_skips_unchanged", False)


_ADD_PY_FILE_SCRIPT = r"""
import json, os, sys, zipfile

import pandas as pd

from paddle_spark.operators.extract_job import extract_pages
from paddle_spark.plans import build_session
from paddle_spark.sources.synth import gen_pages_pdf

tmp = sys.argv[1]
# one core and a JVM-side source: one reused Python worker runs every
# Python task below
spark = build_session("worker_fix", cores=1)
pages = spark.createDataFrame(gen_pages_pdf(20, seed=3))


def probe(batches):
    import zipimport

    for pdf in batches:
        row = {"pid": os.getpid(), "patched": getattr(
            zipimport.zipimporter.invalidate_caches, "_skips_unchanged", False),
            "shipped": None}
        if len(pdf) and pdf["id"].iloc[0] == 1:
            import zw_shipped

            row["shipped"] = zw_shipped.V
        yield pd.DataFrame([row])


def run_probe(i):
    rows = spark.range(i, i + 1, 1, 1).mapInPandas(
        probe, "pid long, patched boolean, shipped long").collect()
    return rows[0].asDict()


extract_pages(pages).count()
before = run_probe(0)
shipped = os.path.join(tmp, "shipped.zip")
with zipfile.ZipFile(shipped, "w") as z:
    z.writestr("zw_shipped.py", "V = 7\n")
spark.sparkContext.addPyFile(shipped)
after = run_probe(1)
print(json.dumps({"before": before, "after": after}))
spark.stop()
"""


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the fix is for < 3.13")
def test_add_py_file_after_extraction_imports_in_a_later_task(tmp_path):
    """After an extraction job has patched the worker, a zip shipped with
    ``SparkContext.addPyFile`` still imports in the next task."""
    res = _run(_ADD_PY_FILE_SCRIPT, str(tmp_path))
    before, after = res["before"], res["after"]
    assert before["patched"] and after["patched"]
    assert before["pid"] == after["pid"]
    assert after["shipped"] == 7
