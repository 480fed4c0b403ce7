"""The measurement script (scripts/measure.py) and the job counter it
reads: the script must import and parse without a Spark session, and
counting a group's jobs must add none."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

from perfbench.tracing import JobGroups

SCRIPTS = Path(__file__).resolve().parent.parent / "scripts"
sys.path.insert(0, str(SCRIPTS))

import measure  # noqa: E402


def test_help_exits_zero_without_spark():
    """Imports pyspark and the whole registry but starts no JVM; a
    script named after a stdlib module (``profile``) fails here."""
    proc = subprocess.run(
        [sys.executable, str(SCRIPTS / "measure.py"), "--help"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert "ingest" in proc.stdout


class _Refuse:
    """Stands in for both session factories: any use fails the test."""

    def __call__(self, *args, **kwargs):
        raise AssertionError("a Spark session was started")

    __getattr__ = __call__


@pytest.mark.parametrize(
    "argv",
    [
        ["time", "ivf_topk", "no_such_query"],
        ["jobs", "no_such_query"],
        ["hash", "no_such_query"],
        ["oracle", "no_such_query"],
        ["plans", "out", "tag", "no_such_query"],
    ],
)
def test_unknown_query_exits_before_a_session(monkeypatch, argv):
    monkeypatch.setattr(measure, "get_spark", _Refuse())
    monkeypatch.setattr(measure, "SparkSession", _Refuse())
    with pytest.raises(SystemExit) as exc:
        measure.main(argv)
    assert exc.value.code != 0


def test_job_groups_add_no_spark_job(spark):
    groups = JobGroups(spark)
    with groups.group("job-groups-probe"):
        spark.range(10).collect()
    counts = groups.counts("job-groups-probe")
    ids = groups.job_ids("job-groups-probe")
    assert counts["jobs"] == 1 and len(ids) == 1
    # job ids are handed out in sequence across the application, so the
    # next job gets the id after the probe's only if reading the counts
    # started no job anywhere
    with groups.group("job-groups-next"):
        spark.range(10).collect()
    assert groups.job_ids("job-groups-next") == [ids[0] + 1]
