from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from _imdb_etl_spark.session import get_spark  # noqa: E402
from tests import fixtures  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def imdb_stage(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("imdb_stage")
    fixtures.generate(str(d), n=200, seed=42)
    return str(d)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture
def fresh_python(tmp_path):
    """Run a Python snippet in a new process, the way a script outside
    the checkout would: cwd is ``tmp_path``, PYTHONPATH is unset, and
    the package is found only through a ``sys.path`` entry in the
    driver process. Returns stdout; a non-zero exit fails the test."""

    def run(code: str) -> str:
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        src = f"import sys\nsys.path.insert(0, {ROOT!r})\n" + textwrap.dedent(code)
        r = subprocess.run(
            [sys.executable, "-c", src],
            cwd=tmp_path,
            env=env,
            capture_output=True,
            text=True,
            timeout=900,
        )
        assert r.returncode == 0, r.stderr[-4000:]
        return r.stdout

    return run
