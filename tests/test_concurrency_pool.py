"""The fuzz-suite pool stops at the first failed program, even when an
earlier program in the stream is still running."""

from __future__ import annotations

import time

import pytest
from _concurrency import run_concurrent


def test_run_concurrent_cancels_queued_programs_on_failure():
    ran = []

    def run_one(i):
        if i == 1:
            raise ValueError("program 1 failed")
        time.sleep(1.0 if i == 0 else 0.05)
        ran.append(i)

    with pytest.raises(ValueError, match="program 1 failed"):
        run_concurrent(range(60), run_one, workers=2)
    # program 0 and at most the one program already running finish; the
    # rest of the queue is cancelled
    assert len(ran) <= 3, ran
