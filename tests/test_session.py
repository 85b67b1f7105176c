"""Session factory pins."""

import os
import subprocess
import sys

from tests.conftest import SF0001

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_udf_query_runs_outside_repo_without_pythonpath(tmp_path):
    """Python workers import the package by name, so ``get_spark`` must
    put it on their path: an Arrow-UDF query run from a foreign working
    directory, with no PYTHONPATH set, must not fail with
    ModuleNotFoundError in the worker."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "import __spark_entry__ as m\n"
        "from page_rank_hadoop_spark import get_spark\n"
        f"rows = m.queries()['q_pq_adc_knn'](get_spark('cwd-test'), {SF0001!r}).collect()\n"
        "print('rows', len(rows))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "rows " in r.stdout
