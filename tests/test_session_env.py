"""session.get_spark environment contracts: the local core count
defaults to the host's, and the Python workers can import the package
when the driver script runs outside the repo."""

import os
import subprocess
import sys

from probability_of_buying_two_products_together_hadoop_project_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a driver script that only puts the repo on its own sys.path: the
# block kernel behind containment_pairs runs in Python workers, which
# must import the package through the session's executor PYTHONPATH
_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from probability_of_buying_two_products_together_hadoop_project_spark.session import get_spark
from probability_of_buying_two_products_together_hadoop_project_spark.operators import dedup
spark = get_spark("outside-repo", shuffle_partitions=2)
docs = spark.createDataFrame(
    [(1, "a b c", "s"), (2, "a b c d", "s"), (3, "x y", "s")],
    "doc_id bigint, text string, source string",
)
print(sorted(tuple(r) for r in dedup.containment_pairs(docs, threshold=0.6).collect()))
spark.stop()
"""


def test_local_cpus_defaults_to_host_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.local_cpus() == str(os.cpu_count() or 1)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.local_cpus() == "3"


def test_arrow_kernel_runs_from_outside_the_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "[(1, 2, 1.0), (2, 1, 0.75)]"
