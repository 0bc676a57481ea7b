"""The benchmark's Avro encoder round-trips through the program's decoder.

    python3 -m pytest perfbench/test_weather.py -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from sparkksqldbbenchmark_spark.sources.avro_codec import decode_record  # noqa: E402
from weather import FRAME, WEATHER_AVSC, StreamSpec, encode_weather, time_observed  # noqa: E402


def test_encode_weather_round_trips():
    rec = {
        "timeObserved": "2024-06-01 12:00:00.250",
        "stationId": -123456,
        "stationName": "station-é",
        "metric": "wind_speed",
        "value": -12.34,
        "producer_ts": 1_717_243_200_250,
    }
    assert decode_record(WEATHER_AVSC, encode_weather(rec)) == rec


def test_framed_values_match_record_encoder_and_decode():
    spec = StreamSpec("paced", 5, 1_717_243_200_000, 3, 40, 100, 0.2,
                      5_000, 120_000, tick_ms=500)
    for i in range(spec.files):
        b = spec.batch(i, 1)
        for k, framed in enumerate(b.framed_values()):
            assert framed[:5] == FRAME
            rec = {
                "timeObserved": time_observed(int(b.event_ms[k])),
                "stationId": int(b.station[k]),
                "stationName": f"station-{int(b.station[k])}",
                "metric": b.metric,
                "value": int(b.cents[k]) / 100,
                "producer_ts": int(b.producer_ts[k]),
            }
            assert framed[5:] == encode_weather(rec)
            assert decode_record(WEATHER_AVSC, framed[5:]) == rec


def test_batches_are_a_function_of_the_seed():
    a = StreamSpec("backlog", 9, 0, 2, 50, 1000, 0.1, 60_000, 240_000,
                   epoch_ms=1_717_200_000_000, span_ms=300_000)
    b = StreamSpec.from_json(a.to_json())
    assert a.batch(1, 0).framed_values() == b.batch(1, 0).framed_values()
    c = StreamSpec("backlog", 10, 0, 2, 50, 1000, 0.1, 60_000, 240_000,
                   epoch_ms=1_717_200_000_000, span_ms=300_000)
    assert a.batch(1, 0).framed_values() != c.batch(1, 0).framed_values()
