"""run_concurrently's failure contract — pure Python, no Spark."""

import threading

import pytest

from etl_pipelines_spark.session import run_concurrently


def test_every_failure_reaches_the_caller():
    background_done = threading.Event()

    def foreground():
        raise ValueError("foreground")

    def background():
        background_done.set()
        raise KeyError("background")

    with pytest.raises(ExceptionGroup) as info:
        run_concurrently(foreground, background)
    assert background_done.is_set()
    assert sorted(type(e).__name__ for e in info.value.exceptions) == [
        "KeyError",
        "ValueError",
    ]


def test_single_failure_raises_unchanged_after_join():
    finished = []

    def slow_ok():
        threading.Event().wait(0.2)
        finished.append("slow")

    def fail():
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        run_concurrently(fail, slow_ok)
    assert finished == ["slow"]
