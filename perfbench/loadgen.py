"""Load generator: a separate, single-threaded process that lands
Confluent-framed Avro WeatherData records as Parquet files (one `value`
binary column, like a Kafka record value), one file per topic per tick.

Every file is written to a hidden staging directory and renamed into its
topic directory, so the stream source never sees a partial file.

    python3 perfbench/loadgen.py SPEC_JSON OUT_DIR REPORT_JSON

Paced specs run open loop: file i is written when it is due, whether or
not the system under test keeps up, and the report records how late the
generator ran. Backlog specs land every file at once and exit.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

from weather import TOPICS, StreamSpec


def encode_file(spec: StreamSpec, i: int, topic: int) -> pa.Table:
    values = spec.batch(i, topic).framed_values()
    return pa.table({"value": pa.array(values, type=pa.binary())})


def land(table: pa.Table, out_dir: str, topic: int, i: int) -> None:
    stage = os.path.join(out_dir, "_staging", f"{TOPICS[topic]}-{i:06d}.parquet")
    pq.write_table(table, stage)
    os.replace(stage, os.path.join(out_dir, TOPICS[topic], f"part-{i:06d}.parquet"))


def main(spec_path: str, out_dir: str, report_path: str) -> int:
    with open(spec_path) as f:
        spec = StreamSpec.from_json(f.read())
    os.makedirs(os.path.join(out_dir, "_staging"), exist_ok=True)
    for name in TOPICS:
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
    # Encode everything before the first due time so encoding never
    # makes the schedule late.
    tables = [
        [encode_file(spec, i, t) for t in range(len(TOPICS))]
        for i in range(spec.files)
    ]
    late_ms = []
    for i, per_topic in enumerate(tables):
        due = spec.due_ms(i) / 1000
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        for t, table in enumerate(per_topic):
            land(table, out_dir, t, i)
        late_ms.append(max(0.0, time.time() * 1000 - spec.due_ms(i)))
    with open(report_path + ".tmp", "w") as f:
        json.dump({"files": spec.files, "late_ms": late_ms}, f)
    os.replace(report_path + ".tmp", report_path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(*sys.argv[1:4]))
