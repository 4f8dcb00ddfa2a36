"""The operation list is a pure function of the workload and the seed.

Run with ``python3 -m pytest perfbench/test_plan.py`` from the repository
root; no Spark session is started.
"""

import hashlib
import os
import subprocess
import sys

import pytest

from perfbench.workloads import WORKLOADS, op_list_bytes, plan

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest_in_fresh_process(workload: str, seed: int, hash_seed: str) -> str:
    code = (
        "import hashlib; from perfbench.workloads import op_list_bytes; "
        f"print(hashlib.sha256(op_list_bytes({workload!r}, {seed})).hexdigest())"
    )
    env = {**os.environ, "PYTHONHASHSEED": hash_seed}
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env,
                         capture_output=True, text=True, check=True)
    return out.stdout.strip()


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_gives_identical_operation_list(workload):
    here = hashlib.sha256(op_list_bytes(workload, 7)).hexdigest()
    assert _digest_in_fresh_process(workload, 7, "1") == here
    assert _digest_in_fresh_process(workload, 7, "2") == here


@pytest.mark.parametrize("workload", ["soql_interactive", "elt_roundtrip"])
def test_other_seed_gives_other_inputs(workload):
    assert op_list_bytes(workload, 7) != op_list_bytes(workload, 8)


def test_every_seed_draws_the_same_soql_shapes():
    def shapes(seed):
        return sorted(op.shape for op in plan("soql_interactive", seed))

    assert shapes(3) == shapes(4)
