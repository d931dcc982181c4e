"""Real-broker Kafka tests for I2/W12 (VERDICT r4 #7): the one residual the
sandbox cannot execute is `format("kafka")` itself — the option dicts are
contract-tested (test_rt_log) and the decode/replay pipeline runs against
the wire-identical file stand-in. These tests close that residual
automatically wherever a broker exists: set KAFKA_BOOTSTRAP (and have the
spark-sql-kafka package on the session classpath) and they run the SAME
public entry points against the real source; unset, they skip cleanly.

Run on a cluster:
  KAFKA_BOOTSTRAP=broker:9092 pytest tests/test_kafka_real.py -m kafka
"""

import json
import os
import uuid

import pyspark.sql.functions as F
import pytest

BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP")

pytestmark = [
    pytest.mark.kafka,
    pytest.mark.skipif(
        not BOOTSTRAP,
        reason="set KAFKA_BOOTSTRAP=<host:port> to run real-broker Kafka tests",
    ),
]


def _produce(spark, topic: str, rows: list[dict], keys: list[str] | None = None):
    """Publish JSON-encoded update rows through Spark's kafka sink — the
    same wire shape decode_kafka_updates expects (key bytes optional)."""
    payloads = [(json.dumps(r), json.dumps({k: r[k] for k in keys}) if keys else None) for r in rows]
    df = spark.createDataFrame(payloads, "value string, key string")
    (
        df.select(
            F.col("value").cast("binary").alias("value"),
            F.col("key").cast("binary").alias("key"),
        )
        .write.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("topic", topic)
        .save()
    )


def test_batch_round_trip_earliest(spark):
    """Produce → read_kafka_topic(source_format='kafka') from earliest →
    decode_kafka_updates reproduces the rows with broker-ts fallback."""
    from venice_spark.sources.inputs import decode_kafka_updates, read_kafka_topic

    topic = f"vs_rt_{uuid.uuid4().hex[:12]}"
    rows = [
        {"k": 1, "v": "a", "op": "PUT", "ts": 100},
        {"k": 2, "v": "b", "op": "PUT", "ts": 200},
        {"k": 1, "v": None, "op": "DELETE", "ts": 300},
    ]
    _produce(spark, topic, rows, keys=["k"])
    wire = read_kafka_topic(
        spark, BOOTSTRAP, topic=topic, starting_offsets="earliest"
    )
    got = decode_kafka_updates(
        wire, "k long, v string, op string, ts long"
    ).collect()
    by_ts = {r["ts"]: (r["k"], r["v"], r["op"]) for r in got}
    assert by_ts == {100: (1, "a", "PUT"), 200: (2, "b", "PUT"), 300: (1, None, "DELETE")}


def test_timestamp_rewind_drops_older_messages(spark):
    """startingTimestamp rewind: only messages produced at/after the cutoff
    replay — the hybrid-store rewind window against broker time."""
    import time

    from venice_spark.sources.inputs import decode_kafka_updates, read_kafka_topic

    topic = f"vs_rt_{uuid.uuid4().hex[:12]}"
    _produce(spark, topic, [{"k": 1, "v": "old", "ts": 1}])
    time.sleep(2)
    cutoff_ms = int(time.time() * 1000)
    _produce(spark, topic, [{"k": 2, "v": "new", "ts": 2}])
    wire = read_kafka_topic(
        spark, BOOTSTRAP, topic=topic, starting_timestamp_ms=cutoff_ms
    )
    got = {r["k"]: r["v"] for r in decode_kafka_updates(wire, "k long, v string, ts long").collect()}
    assert got == {2: "new"}


def test_streaming_replay_into_hybrid_serving(spark, tmp_path):
    """The full W12 path against a real broker: readStream kafka → decode →
    HybridReplay foreachBatch latest-ts-wins into the serving LSM —
    byte-for-byte the pipeline the file stand-in validates."""
    from venice_spark.catalog import StoreCatalog
    from venice_spark.sources.inputs import decode_kafka_updates, read_kafka_topic
    from venice_spark.streaming.hybrid import HybridReplay

    topic = f"vs_rt_{uuid.uuid4().hex[:12]}"
    rows = [
        {"key": "a", "val": 1.0, "ts": 10, "op": "PUT"},
        {"key": "a", "val": 5.0, "ts": 20, "op": "PUT"},
        {"key": "b", "val": 2.0, "ts": 10, "op": "PUT"},
        {"key": "b", "val": 0.0, "ts": 30, "op": "DELETE"},
        {"key": "b", "val": 9.0, "ts": 25, "op": "PUT"},  # stale: loses to the tombstone
    ]
    _produce(spark, topic, rows, keys=["key"])

    catalog = StoreCatalog(str(tmp_path / "cat"))
    catalog.create_store("h", key_fields=["key"], hybrid=True, rewind_seconds=0)
    serving = str(tmp_path / "serving")
    spark.createDataFrame(
        [("c", 7.0, 0)], "key string, val double, ts long"
    ).write.parquet(serving)

    wire = read_kafka_topic(
        spark, BOOTSTRAP, topic=topic, starting_offsets="earliest", streaming=True
    )
    stream = decode_kafka_updates(wire, "key string, val double, ts long, op string")
    replay = HybridReplay(spark, catalog, "h", serving)
    replay.start(stream, str(tmp_path / "ckpt")).awaitTermination(180)
    out = {r["key"]: r["val"] for r in replay.read().collect()}
    assert out == {"a": 5.0, "c": 7.0}  # b deleted, stale put suppressed
