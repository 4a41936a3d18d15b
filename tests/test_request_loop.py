"""The connector's one request loop (sources/rest.py
``request_with_retry``), shared by the mapInPandas fetch and the
``census_rest`` DataSource: attempt count, backoff delays, transport
errors. No Spark session; ``time.sleep`` is patched to record delays."""

from __future__ import annotations

import pytest

from clean_census_acs_data_spark.sources import rest as R


@pytest.fixture
def sleeps(monkeypatch):
    delays: list[float] = []
    monkeypatch.setattr(R.time, "sleep", delays.append)
    return delays


def _scripted(*answers):
    """A fetcher that gives ``answers`` in order, repeating the last;
    an exception answer is raised."""
    calls = []

    def fetch(url, params):
        calls.append((url, params))
        answer = answers[min(len(calls), len(answers)) - 1]
        if isinstance(answer, Exception):
            raise answer
        return answer

    return fetch, calls


def test_exhausted_request_sleeps_between_attempts_only(sleeps):
    fetch, calls = _scripted((500, {"X-RateLimit-Remaining": "1"}, "server error"))
    res = R.request_with_retry(fetch, "https://example.test/data", {"get": "NAME"})
    assert len(calls) == 5 and res.attempts == 5
    assert (res.status, res.body, res.error) == (500, None, "server error")
    # exponential from the base, and no sleep after the last attempt
    assert sleeps == pytest.approx([0.01 * 2**k for k in range(4)])


def test_backoff_is_capped(sleeps):
    fetch, _calls = _scripted((503, {}, "busy"))
    R.request_with_retry(fetch, "u", {}, backoff_base_s=16.0)
    assert sleeps == [16.0, 32.0, R.BACKOFF_CAP_S, R.BACKOFF_CAP_S]


def test_transport_error_is_status_minus_one(sleeps):
    fetch, calls = _scripted(ConnectionError("connection refused"))
    res = R.request_with_retry(fetch, "u", {})
    assert len(calls) == 5 and res.attempts == 5
    assert res.status == -1 and res.body is None
    assert "connection refused" in res.error


def test_success_on_second_try(sleeps):
    body = '[["NAME"],["x"]]'
    fetch, calls = _scripted((503, {}, "busy"), (200, {"X-RateLimit-Remaining": "9"}, body))
    res = R.request_with_retry(fetch, "u", {})
    assert len(calls) == 2 and res.attempts == 2
    assert (res.status, res.body, res.error) == (200, body, None)
    assert res.headers == {"X-RateLimit-Remaining": "9"}
    assert sleeps == [0.01]
