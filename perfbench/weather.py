"""Benchmark-owned input code for the weather streams.

The `WeatherData` record (the reference producer's `weather.avsc`:
timeObserved, stationId, stationName, metric, value, producer_ts) is
declared here, encoded here in Avro binary and framed here in the
Confluent wire format (magic byte 0x00, 4-byte big-endian schema id,
Avro body). Nothing in this module imports the program, so a change to
the program cannot change the benchmark's inputs.

Record contents are a pure function of (seed, tick or file index, topic,
t0), so the benchmark can regenerate exactly what the generator process
wrote and recompute the expected window aggregates from it.
"""

from __future__ import annotations

import json
import struct
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np

WEATHER_AVSC = json.dumps(
    {
        "type": "record",
        "name": "WeatherData",
        "namespace": "perfbench",
        "fields": [
            {"name": "timeObserved", "type": "string"},
            {"name": "stationId", "type": "int"},
            {"name": "stationName", "type": "string"},
            {"name": "metric", "type": "string"},
            {"name": "value", "type": "double"},
            {"name": "producer_ts", "type": "long"},
        ],
    }
)
SCHEMA_ID = 1
TOPICS = ("wind_speed", "sunshine")
FRAME = b"\x00" + SCHEMA_ID.to_bytes(4, "big")
WINDOW_MS = 60_000


def zigzag(n: int) -> bytes:
    """Avro int/long: zigzag, then base-128 varint, low group first."""
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while u > 0x7F:
        out.append((u & 0x7F) | 0x80)
        u >>= 7
    out.append(u)
    return bytes(out)


def avro_string(s: str) -> bytes:
    raw = s.encode("utf-8")
    return zigzag(len(raw)) + raw


def encode_weather(rec: dict) -> bytes:
    """Avro binary body of one WeatherData record (fields in schema order)."""
    return b"".join(
        (
            avro_string(rec["timeObserved"]),
            zigzag(rec["stationId"]),
            avro_string(rec["stationName"]),
            avro_string(rec["metric"]),
            struct.pack("<d", rec["value"]),
            zigzag(rec["producer_ts"]),
        )
    )


def time_observed(ms: int) -> str:
    dt = datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%d %H:%M:%S.") + f"{ms % 1000:03d}"


@dataclass
class Batch:
    """Columns of one generated file: one topic, one tick or backlog file."""

    metric: str
    station: np.ndarray  # int32
    cents: np.ndarray  # int64; value = cents / 100
    event_ms: np.ndarray  # int64 event time
    producer_ts: np.ndarray  # int64 due time stamped by the generator

    def __len__(self) -> int:
        return len(self.station)

    def framed_values(self) -> list[bytes]:
        names = {}
        metric = avro_string(self.metric)
        out = []
        for st, c, ev, pt in zip(
            self.station.tolist(),
            self.cents.tolist(),
            self.event_ms.tolist(),
            self.producer_ts.tolist(),
        ):
            name = names.get(st)
            if name is None:
                name = names[st] = avro_string(f"station-{st}")
            out.append(
                FRAME
                + avro_string(time_observed(ev))
                + zigzag(st)
                + name
                + metric
                + struct.pack("<d", c / 100)
                + zigzag(pt)
            )
        return out


@dataclass(frozen=True)
class StreamSpec:
    """Shape of a generated stream.

    Paced: file (tick) i of a topic is due at t0 + i * tick_ms; its events
    carry event times just before the due time, except a `late_share` of
    them, which lag by `late_min_ms`..`late_max_ms` and so land in earlier
    windows. Backlog: every file is due at t0; event times advance with
    the file index over `span_ms` from `epoch_ms`, and the late share lags
    the same way.
    """

    kind: str  # "paced" or "backlog"
    seed: int
    t0_ms: int
    files: int  # per topic
    rows_per_file: int
    stations: int
    late_share: float
    late_min_ms: int
    late_max_ms: int
    tick_ms: int = 0
    epoch_ms: int = 0
    span_ms: int = 0

    def due_ms(self, i: int) -> int:
        return self.t0_ms + i * self.tick_ms if self.kind == "paced" else self.t0_ms

    def batch(self, i: int, topic: int) -> Batch:
        rng = np.random.default_rng([self.seed, 7 if self.kind == "paced" else 11, i, topic])
        n = self.rows_per_file
        station = rng.integers(0, self.stations, n, dtype=np.int32)
        cents = rng.integers(-2_000, 40_000, n, dtype=np.int64)
        if self.kind == "paced":
            base = self.due_ms(i) - rng.integers(0, self.tick_ms + 1, n)
        else:
            step = self.span_ms / self.files
            base = self.epoch_ms + int(i * step) + rng.integers(0, int(step) + 1, n)
        late = rng.random(n) < self.late_share
        lag = rng.integers(self.late_min_ms, self.late_max_ms + 1, n)
        event_ms = np.where(late, base - lag, base).astype(np.int64)
        producer = np.full(n, self.due_ms(i), dtype=np.int64)
        return Batch(TOPICS[topic], station, cents, event_ms, producer)

    def total_rows(self) -> int:
        return self.files * self.rows_per_file * len(TOPICS)

    def to_json(self) -> str:
        return json.dumps(self.__dict__)

    @classmethod
    def from_json(cls, text: str) -> "StreamSpec":
        return cls(**json.loads(text))


def expected_windows(spec: StreamSpec):
    """The window aggregate recomputed from the generated records:
    1-minute tumbling windows x (metric, stationId) with avg/min/max/count
    and min(producer_ts), late and out-of-order records included.

    Returns a pandas DataFrame keyed like the sink output. avg is the
    exact cent sum divided by 100, then by the count, which is the value
    an exact decimal sum converted to double gives."""
    import pandas as pd

    parts = []
    for i in range(spec.files):
        for t in range(len(TOPICS)):
            b = spec.batch(i, t)
            parts.append(
                pd.DataFrame(
                    {
                        "metric": b.metric,
                        "stationId": b.station,
                        "cents": b.cents,
                        "win": b.event_ms // WINDOW_MS,
                        "producer_ts": b.producer_ts,
                    }
                )
            )
    df = pd.concat(parts, ignore_index=True)
    g = df.groupby(["win", "metric", "stationId"], sort=False).agg(
        s=("cents", "sum"),
        lo=("cents", "min"),
        hi=("cents", "max"),
        n=("cents", "size"),
        p=("producer_ts", "min"),
    )
    g = g.reset_index()
    out = pd.DataFrame(
        {
            "window_start": [time_observed(w * WINDOW_MS)[:19] for w in g["win"]],
            "metric": g["metric"],
            "stationId": g["stationId"].astype("int64"),
            "avg_value": (g["s"] / 100.0) / g["n"],
            "min_value": g["lo"] / 100.0,
            "max_value": g["hi"] / 100.0,
            "message_count": g["n"].astype("int64"),
            "min_producer_ts": g["p"].astype("int64"),
        }
    )
    return out
