"""Structured Streaming tests: drift-tracking inference (foreachBatch) and
windowed aggregations."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from nifi_hive_schema_generator_bundle_spark.streaming.infer_stream import (
    InferenceState,
    run_inference_stream,
)
from nifi_hive_schema_generator_bundle_spark.streaming.windows import (
    sessionize_stream,
    windowed_event_counts,
)


def test_inference_stream_drift(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "batch1.json").write_text('{"a": 1}\n{"a": 2, "b": "x"}\n')

    q, state = run_inference_stream(
        spark,
        str(indir),
        "stream_t",
        "/warehouse/stream_t",
        checkpoint_dir=str(tmp_path / "ckpt"),
        quarantine_path=str(tmp_path / "bad"),
    )
    q.awaitTermination(120)
    assert state.good_rows == 2 and state.bad_rows == 0
    assert len(state.ddl_history) == 1
    assert "`a` STRING" in state.current_ddl and "`b` STRING" in state.current_ddl
    # the first DDL is the CREATE — no redundant ALTER restating its columns
    assert state.alter_history == []

    # second batch: drift (new column c, conflict on a) + one bad line
    (indir / "batch2.json").write_text('{"a": [1], "c": {"d": 1}}\nnot json\n')
    q2, state2 = run_inference_stream(
        spark,
        str(indir),
        "stream_t",
        "/warehouse/stream_t",
        checkpoint_dir=str(tmp_path / "ckpt"),  # same checkpoint: only new file
        quarantine_path=str(tmp_path / "bad"),
    )
    # rebuild accumulated state from scratch is fresh; merge both batches
    state2.schema = state.schema
    q2.awaitTermination(120)
    assert state2.bad_rows == 1
    ddl = state2.current_ddl
    assert "`c` STRUCT<" in ddl
    assert "`a` STRING" in ddl  # [1] vs scalar conflict stays STRING
    # incremental evolution: new column -> ADD COLUMNS, conflicted column
    # -> CHANGE COLUMN restating the demoted type
    alters = "\n".join(state2.alter_history)
    assert "ADD COLUMNS (`c` STRUCT<`d`: STRING>)" in alters
    # `a` was STRING before and after this batch (scalar/scalar already
    # demoted in batch1) -> no spurious CHANGE COLUMN
    assert "CHANGE COLUMN" not in alters
    # quarantined line preserved byte-identical
    bad_lines = []
    for f in os.listdir(tmp_path / "bad"):
        if not f.startswith(("_", ".")):
            bad_lines += (tmp_path / "bad" / f).read_text().splitlines()
    assert bad_lines == ["not json"]


def test_process_batch_quarantines_only_batches_with_bad_lines(spark, tmp_path):
    """Counts are observed metrics of the batch's inference pass; the
    quarantine write runs only for a batch that has bad lines, and an
    empty batch resolves its counts without blocking."""
    quarantine = tmp_path / "bad"
    state = InferenceState("qb", "/warehouse/qb", quarantine_path=str(quarantine))

    def batch(lines):
        return spark.createDataFrame([(line,) for line in lines], "value string")

    def parts():
        return sorted(quarantine.glob("part-*"))

    state.process_batch(batch(['{"a": 1}', '{"a": 2}']), 0)
    assert parts() == []
    state.process_batch(batch(['{"a": 3, "b": "x"}', '{"b":', "7"]), 1)
    quarantined = [line for p in parts() for line in p.read_text().splitlines()]
    assert sorted(quarantined) == ['7', '{"b":']
    state.process_batch(batch([]), 2)
    assert (state.batches, state.good_rows, state.bad_rows) == (3, 3, 2)
    assert len(state.ddl_history) == 2
    assert "`b` STRING" in state.current_ddl


def test_windowed_counts_batch_equivalence(spark, sf_smoke_dir):
    from nifi_hive_schema_generator_bundle_spark.plans.queries import load_table

    ev = load_table(spark, sf_smoke_dir, "events")
    res = windowed_event_counts(ev, window="1 day").collect()
    assert len(res) > 0
    total = sum(r.n for r in res)
    assert total == ev.count()


def test_windowed_counts_streaming_mode(spark, sf_smoke_dir, tmp_path):
    from nifi_hive_schema_generator_bundle_spark.plans.queries import load_table

    ev = load_table(spark, sf_smoke_dir, "events")
    src = str(tmp_path / "stream_src")
    ev.limit(500).write.parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = windowed_event_counts(stream, window="1 day")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")  # watermark allows append
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # append mode only emits closed windows; with availableNow the final
    # watermark leaves the last window open — assert the stream ran and
    # produced a queryable sink
    assert spark.sql("SELECT count(*) FROM win_counts").collect()[0][0] >= 0


def test_sessionize_stream_batch_mode(spark, sf_smoke_dir):
    from nifi_hive_schema_generator_bundle_spark.plans.queries import load_table

    ev = load_table(spark, sf_smoke_dir, "events")
    sess = sessionize_stream(ev).collect()
    assert len(sess) > 0
    assert sum(r.n_events for r in sess) == ev.count()


def test_text_operator_reuses_in_stream(spark, tmp_path):
    """The batch text operators run unchanged inside a stream (narrow,
    stateless plans; the partition guard passes streaming frames
    through)."""
    import json

    from nifi_hive_schema_generator_bundle_spark.operators.text import (
        quality_score,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    src = tmp_path / "tsrc"
    src.mkdir()
    (src / "a.json").write_text(
        json.dumps({"doc_id": 1, "text": "A normal enough sentence here."})
        + "\n"
        + json.dumps({"doc_id": 2, "text": "!!!???"})
        + "\n"
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        quality_score(stream)
        .writeStream.format("memory")
        .queryName("qs_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = {r["doc_id"]: r for r in spark.sql("SELECT * FROM qs_stream").collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["quality"] > rows[2]["quality"]


def test_idempotent_partition_sink_replay_converges(spark, tmp_path):
    """A replayed micro-batch rewrites its partitions instead of
    appending — retries converge to the same rows."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from nifi_hive_schema_generator_bundle_spark.sources.formats import (
        overwrite_partitions,
    )
    from nifi_hive_schema_generator_bundle_spark.streaming.sink import (
        idempotent_partition_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"id": 1, "day": "2024-01-01"},
        {"id": 2, "day": "2024-01-01"},
        {"id": 3, "day": "2024-01-02"},
    ]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    schema = StructType(
        [StructField("id", LongType()), StructField("day", StringType())]
    )
    out = str(tmp_path / "out")
    stream = spark.readStream.schema(schema).json(str(src))
    q = idempotent_partition_sink(
        stream, out, ["day"], checkpoint_dir=str(tmp_path / "ck")
    )
    assert q.awaitTermination(120)

    def read_ids():
        return sorted(
            r.id
            for r in spark.read.parquet(out)
            .select("id")
            .collect()
        )

    assert read_ids() == [1, 2, 3]
    # simulate the crash-and-replay: re-apply the same batch out-of-band
    batch_df = spark.read.schema(schema).json(str(src))
    overwrite_partitions(batch_df, out, ["day"])
    assert read_ids() == [1, 2, 3]  # rewritten, not appended

    # a later batch for day 2 replaces only day 2
    batch2 = spark.createDataFrame([(9, "2024-01-02")], schema)
    overwrite_partitions(batch2, out, ["day"])
    assert read_ids() == [1, 2, 9]


def test_group_drift_monitor_emits_change_feed(spark, tmp_path):
    """Streaming per-group drift: new groups, new fields, and type
    demotions surface as events; stable batches emit nothing."""
    import shutil

    from nifi_hive_schema_generator_bundle_spark.streaming.drift_stream import (
        GroupDriftState,
    )

    src = str(tmp_path / "drift_src")
    state = GroupDriftState(json_col="payload", key_col="grp")

    def write_batch(rows):
        shutil.rmtree(src, ignore_errors=True)
        spark.createDataFrame(rows, "grp string, payload string").write.parquet(src)
        return spark.read.parquet(src)

    # batch 0: two groups appear (a's x starts as an ARRAY)
    state.process_batch(
        write_batch([("a", '{"x": [1]}'), ("b", '{"x": "s"}')]), 0
    )
    assert (0, "a", "*", "new_group") in state.events
    assert (0, "b", "*", "new_group") in state.events

    # batch 1: same shapes — silent
    n = len(state.events)
    state.process_batch(write_batch([("a", '{"x": [9]}')]), 1)
    assert len(state.events) == n

    # batch 2: group a gains a field and demotes x (ARRAY ⊔ scalar → STRING)
    state.process_batch(write_batch([("a", '{"x": 2, "y": 7}')]), 2)
    changes = {(g, f): c for _, g, f, c in state.events}
    assert changes[("a", "y")] == "new_field"
    assert changes[("a", "x")].startswith("retyped:")

    # the driver state is schema trees only
    assert set(state.schemas) == {"a", "b"}
    assert state.batches == 3


def test_group_drift_monitor_in_foreachbatch(spark, tmp_path):
    """Same state wired through a real foreachBatch stream."""
    import os

    from nifi_hive_schema_generator_bundle_spark.streaming.drift_stream import (
        GroupDriftState,
    )

    src = str(tmp_path / "fb_src")
    os.makedirs(src)
    spark.createDataFrame(
        [("a", '{"x": 1}'), ("b", '{"k": [2]}')],
        "grp string, payload string",
    ).coalesce(1).write.mode("overwrite").parquet(src)

    state = GroupDriftState(json_col="payload", key_col="grp")
    stream = (
        spark.readStream.schema("grp string, payload string").parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(state.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert {g for _, g, _, _ in state.events} == {"a", "b"}
    assert all(c == "new_group" for _, _, _, c in state.events)


def test_value_drift_monitor_matches_batch_operator(spark, tmp_path):
    """Monitor PSI == sum(distribution_drift psi_contrib) for the same
    two snapshots, and the alert fires only past the threshold."""
    import shutil

    from nifi_hive_schema_generator_bundle_spark.operators.drift import (
        distribution_drift,
    )
    from nifi_hive_schema_generator_bundle_spark.streaming.drift_stream import (
        ValueDriftMonitor,
    )

    ref = spark.createDataFrame([(float(v),) for v in [1, 2, 2, 3, 8]], "v double")
    shifted = spark.createDataFrame(
        [(float(v),) for v in [7, 8, 8, 9, 9, 9]], "v double"
    )
    alerts = []
    mon = ValueDriftMonitor.from_reference(
        ref, "v", bins=5, lo=0.0, hi=10.0, threshold=0.25,
        on_alert=lambda b, p: alerts.append((b, p)),
    )

    # batch 0: the reference itself — PSI 0, no alert
    mon.process_batch(ref, 0)
    assert mon.events[0] == (0, 5, 0.0)
    assert alerts == []

    # batch 1: shifted — PSI equals the batch operator's sum exactly
    mon.process_batch(shifted, 1)
    batch_psi = round(
        sum(
            r.psi_contrib
            for r in distribution_drift(
                ref, shifted, "v", bins=5, lo=0.0, hi=10.0
            ).collect()
        ),
        6,
    )
    assert mon.events[1] == (1, 6, batch_psi)
    assert batch_psi > 0.25 and alerts == [(1, batch_psi)]

    # empty batch: nonzero PSI against a non-uniform reference
    empty = spark.createDataFrame([], "v double")
    mon.process_batch(empty, 2)
    assert mon.events[2][1] == 0 and mon.events[2][2] > 0.0


def test_value_drift_monitor_in_foreachbatch(spark, tmp_path):
    """Monitor wired through a real foreachBatch stream."""
    import os

    from nifi_hive_schema_generator_bundle_spark.streaming.drift_stream import (
        ValueDriftMonitor,
    )

    ref = spark.createDataFrame([(float(v),) for v in [1, 2, 3]], "v double")
    src = str(tmp_path / "vdm_src")
    os.makedirs(src)
    spark.createDataFrame(
        [(float(v),) for v in [1, 2, 3]]
    , "v double").coalesce(1).write.mode("overwrite").parquet(src)

    mon = ValueDriftMonitor.from_reference(ref, "v", bins=4, lo=0.0, hi=4.0)
    stream = spark.readStream.schema("v double").parquet(src)
    q = (
        stream.writeStream.foreachBatch(mon.process_batch)
        .option("checkpointLocation", str(tmp_path / "vdm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(mon.events) == 1
    assert mon.events[0] == (0, 3, 0.0)


def test_value_drift_monitor_rejects_zero_smoothing(spark):
    import pytest

    from nifi_hive_schema_generator_bundle_spark.streaming.drift_stream import (
        ValueDriftMonitor,
    )

    ref = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError):
        ValueDriftMonitor.from_reference(
            ref, "v", bins=2, lo=0.0, hi=2.0, smoothing=0.0
        )
