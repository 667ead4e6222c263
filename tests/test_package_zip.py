"""Publishing the package zip executors import: processes that start
Spark at once each write their own temp file and publish it with one
``os.replace``, so neither dies on the other's rename."""

from __future__ import annotations

import os
import subprocess
import sys
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import sys, time
sys.path.insert(0, sys.argv[3])
from bugzilla_etl_spark.session import package_zip
time.sleep(max(0.0, float(sys.argv[1]) - time.time()))
print(package_zip(sys.argv[2]))
"""


def test_concurrent_publishers_into_a_fresh_dir(tmp_path):
    for rnd in range(2):
        out = tmp_path / f"round{rnd}"
        out.mkdir()
        # both start publishing at the same instant, after their imports
        start = time.time() + 3.0
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", CHILD, str(start), str(out), ROOT],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            )
            for _ in range(2)
        ]
        results = [p.communicate(timeout=120) for p in procs]
        for p, (_, err) in zip(procs, results):
            assert p.returncode == 0, err
        paths = {o.strip() for o, _ in results}
        assert len(paths) == 1, paths
        path = paths.pop()
        # one published zip, no temp file left behind
        assert sorted(os.listdir(out)) == [os.path.basename(path)]
        with zipfile.ZipFile(path) as zf:
            assert zf.testzip() is None
            assert "bugzilla_etl_spark/session.py" in zf.namelist()
