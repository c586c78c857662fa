import json

import pytest

from datagen import change_event
from stream import delivery_errors, due_of, publish_lags_ms, token_of


def test_lags_follow_a_synthetic_generator_schedule():
    start, interval = 1000.0, 0.05
    # file f is due at start + f*interval and carries ids 2f, 2f+1
    files = [[change_event(2 * f + j, "c", start + f * interval, "x") for j in range(2)]
             for f in range(6)]
    payloads = [json.dumps({"_id": json.loads(e)["_id"],
                            "fullDocument": json.loads(e)["fullDocument"]})
                for f in files for e in f]
    # files 0-2 published together at 1000.25, files 3-5 at 1000.40
    calls = [(1000.20, 1000.25, payloads[:6]), (1000.35, 1000.40, payloads[6:])]
    lags = publish_lags_ms(calls)
    expected = [250, 250, 200, 200, 150, 150, 250, 250, 200, 200, 150, 150]
    assert lags == pytest.approx(expected)
    assert [token_of(p) for p in payloads] == list(range(12))
    assert due_of(payloads[3]) == pytest.approx(start + interval)


def test_delivery_errors_count_lost_duplicated_and_reordered_events():
    assert delivery_errors([0, 1, 2], [0, 1, 2]) == 0
    assert delivery_errors([0, 2], [0, 1, 2]) == 1  # lost
    assert delivery_errors([0, 1, 1, 2], [0, 1, 2]) == 1  # duplicated
    assert delivery_errors([1, 0, 2], [0, 1, 2]) == 1  # out of order
    assert delivery_errors([0, 1, 2, 9], [0, 1, 2]) == 1  # unexpected
    assert delivery_errors([2, 1], [0, 1, 2]) == 2  # lost and out of order
