"""Session warmup is best-effort, but its failures are logged, not swallowed."""

from __future__ import annotations

import logging

from gms_spark.session import _warm_session


class _NoRange:
    def range(self, *args, **kwargs):
        raise RuntimeError("range unavailable")


def test_warmup_failure_is_logged(caplog):
    with caplog.at_level(logging.WARNING, logger="gms_spark.session"):
        _warm_session(_NoRange())
    assert "range unavailable" in caplog.text
