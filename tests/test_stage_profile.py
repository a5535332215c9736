"""tools/stage_profile.py: Spark REST timestamps are GMT and parse the
same in every local time zone, across a DST change and without a
fraction of a second."""

from __future__ import annotations

import importlib.util
import os
import time
from datetime import datetime, timezone

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools",
                     "stage_profile.py")
_spec = importlib.util.spec_from_file_location("stage_profile", _PATH)
stage_profile = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(stage_profile)


def _utc(*args) -> float:
    return datetime(*args, tzinfo=timezone.utc).timestamp()


@pytest.fixture(params=["UTC", "Europe/London", "America/New_York"])
def local_zone(request, monkeypatch):
    """Run the test with the process's local time zone set to `param`."""
    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


def test_dst_boundary(local_zone):
    # Read as local wall-clock times, these GMT stamps would straddle the
    # spring-forward hour of London (01:00 -> 02:00 on 2024-03-31) or New
    # York (02:00 -> 03:00 on 2024-03-10), and a 2-hour job would last 1
    for start, end in (("2024-03-31T00:30:00.250GMT", "2024-03-31T02:30:00.250GMT"),
                       ("2024-03-10T01:30:00.250GMT", "2024-03-10T03:30:00.250GMT")):
        assert (stage_profile.rest_time(end) - stage_profile.rest_time(start)
                == pytest.approx(7200.0))
    assert stage_profile.rest_time("2024-03-31T00:30:00.250GMT") == \
        pytest.approx(_utc(2024, 3, 31, 0, 30, 0, 250000))


def test_fraction_absent_or_any_length(local_zone):
    assert stage_profile.rest_time("2015-02-03T16:42:59GMT") == \
        _utc(2015, 2, 3, 16, 42, 59)
    assert stage_profile.rest_time("2015-02-03T16:42:59.7GMT") == \
        pytest.approx(_utc(2015, 2, 3, 16, 42, 59, 700000))
    assert stage_profile.rest_time("2015-02-03T16:42:59.720GMT") == \
        pytest.approx(_utc(2015, 2, 3, 16, 42, 59, 720000))


def test_rejects_other_text():
    with pytest.raises(ValueError):
        stage_profile.rest_time("03/02/2015 16:42")
