from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from perfbench import common

    workdir = str(tmp_path_factory.mktemp("perfbench-spark"))
    common.prepare_env(workdir)
    s = common.start_spark(workdir)
    yield s
    s.stop()
