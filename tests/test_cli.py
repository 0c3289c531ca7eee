"""The CLI (``python -m _data_engineering_pipeline_project_spark``) and
``__spark_entry__`` must expose the same query registry: both assemble
it through ``queries.load_all()``."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a fresh interpreter: in this process other tests may already have
# imported every query module, which would hide a short import list
_PROBE = """
import contextlib, io
from _data_engineering_pipeline_project_spark import queries as q
from _data_engineering_pipeline_project_spark.__main__ import main
out = io.StringIO()
with contextlib.redirect_stdout(out):
    main(["list"])
n_cli, n_listed = len(q.QUERIES), len(out.getvalue().splitlines())
import __spark_entry__
print(n_cli, n_listed, len(__spark_entry__.queries()))
"""


def test_cli_list_shows_the_whole_registry():
    res = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr
    n_cli, n_listed, n_entry = map(int, res.stdout.split()[-3:])
    assert n_cli == n_listed == n_entry
