"""Parser tests for the status-store reader (no Spark needed):

    python3 -m pytest perfbench/test_tracing.py -q
"""

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from tracing import parse_metric, parse_metric_map  # noqa: E402


@pytest.mark.parametrize(
    "text, total, top",
    [
        ("1,360", 1360.0, 1360.0),
        ("0", 0.0, 0.0),
        ("13.4 KiB", 13.4 * 1024, 13.4 * 1024),
        ("0.0 B", 0.0, 0.0),
        ("591 ms", 591.0, 591.0),
        ("1.2 s", 1200.0, 1200.0),
        (
            "total (min, med, max (stageId: taskId))\n"
            "114.4 KiB (10.0 KiB, 20.0 KiB, 30.0 KiB (stage 3.0: task 12))",
            114.4 * 1024, 30.0 * 1024,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "32.9 s (8.2 s, 8.2 s, 8.5 s (stage 0.0: task 1))",
            32900.0, 8500.0,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "1.5 MiB (0.0 B, 512.0 KiB, 1024.0 KiB (stage 7.1: task 230))",
            1.5 * 2**20, 2**20,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "2.5 m (1 ms, 3 ms, 2.5 m (stage 2.0: task 9))",
            150_000.0, 150_000.0,
        ),
    ],
)
def test_parse_metric(text, total, top):
    got_total, got_top = parse_metric(text)
    assert got_total == pytest.approx(total)
    assert got_top == pytest.approx(top)


@pytest.mark.parametrize("text", ["", "n/a", "12 parsecs"])
def test_parse_metric_rejects_garbage(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_parse_metric_map_splits_multiline_values():
    text = (
        "HashMap(101 -> 0.0 B, 165 -> 1,360, 115 -> total (min, med, max "
        "(stageId: taskId))\n60.1 KiB (15.0 KiB, 15.0 KiB, 15.0 KiB "
        "(stage 0.0: task 0)), 169 -> 591 ms)"
    )
    got = parse_metric_map(text)
    assert set(got) == {101, 165, 115, 169}
    assert got[165] == "1,360"
    assert parse_metric(got[115]) == pytest.approx((60.1 * 1024, 15.0 * 1024))
    assert parse_metric(got[169]) == (591.0, 591.0)


def test_parse_metric_map_empty():
    assert parse_metric_map("Map()") == {}

