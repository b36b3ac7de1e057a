"""Shared fixtures: one SparkSession per test run + DuckDB oracle helper.

Also a suite-level hermeticity guard: a run that adds, deletes or edits a
tracked or untracked-unignored file fails the session (see
``pytest_sessionfinish``).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from spark_streaming_invoice_anomaly_detection_spark.session import get_spark

#: Tests default to the smallest scale factor for speed; driver uses sf0.01.
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_GIT_STATUS = pytest.StashKey[str | None]()


def _git_status() -> str | None:
    """``git status --porcelain`` of the repo, or None outside a git
    checkout (or without git)."""
    try:
        out = subprocess.run(
            ["git", "status", "--porcelain"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=60,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout if out.returncode == 0 else None


def pytest_sessionstart(session):
    session.config.stash[_GIT_STATUS] = _git_status()


def pytest_sessionfinish(session, exitstatus):
    before = session.config.stash.get(_GIT_STATUS, None)
    if before is None:
        return
    after = _git_status()
    if after == before:
        return
    session.exitstatus = pytest.ExitCode.TESTS_FAILED
    reporter = session.config.pluginmanager.get_plugin("terminalreporter")
    if reporter is not None:
        reporter.write_line(
            "HERMETICITY: the test run changed `git status --porcelain`\n"
            f"--- before\n{before}--- after\n{after}",
            red=True,
        )


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="invoice-engine-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR
