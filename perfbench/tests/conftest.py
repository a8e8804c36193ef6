"""Make the benchmark modules importable and give the Spark tests the
same environment ``perfbench/run.py`` sets up."""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def work_root(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    run.configure_env(ROOT, work)
    yield work
    from harness import shutdown

    shutdown()
    shutil.rmtree(work, ignore_errors=True)


@pytest.fixture
def harness(work_root, request):
    from harness import Harness

    h = Harness(work_root, request.node.name[:40], 7, trace=getattr(request, "param", False))
    yield h
    h.close()
