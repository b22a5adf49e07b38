"""Exactly-once sink protocol + metrics reporter tests (SURVEY §2.9 T2/T6,
§2.1 S9/S12, §2.10 X2)."""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.streaming.change_feed import MicroBatcher
from sqlserver_cdc_to_kafka_spark.streaming.metrics import (
    AccumulatingReporter,
    LocalFileReporter,
    StdoutReporter,
    load_reporters,
    observed_batch,
    report_batch,
)
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink


def test_transactional_sink_exactly_once_and_resume(spark, sf_dir, tmp_path):
    # deterministic subset (limit over a repartitioned feed is not stable
    # across re-evaluations)
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 3000)
    n_feed = feed.count()
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")

    def write(batch):
        rec = sink.commit_batch(batch)
        assert rec
        return rec

    mb = MicroBatcher(feed, sink, batch_size=400, commit=write)
    total = mb.run_to_completion()
    assert total == n_feed

    # committed data readable, equals the feed exactly
    out = sink.read_committed(spark)
    assert out.count() == n_feed
    assert out.select(F.sum("change_seq")).collect() == feed.select(
        F.sum("change_seq")
    ).collect()

    # crash-replay: committing rows the sink already holds is a no-op
    some_batch = out.limit(10)
    before = open(sink.manifest_path).read()
    assert sink.commit_batch(some_batch) is None
    assert open(sink.manifest_path).read() == before
    assert sink.read_committed(spark).count() == n_feed

    # resume point = max committed index; a new batcher on the sink sees 0
    resume = sink.last_progress()
    assert resume == feed.agg(F.max("change_seq")).collect()[0][0]
    mb2 = MicroBatcher(feed, sink, batch_size=400)
    assert mb2.run_once() == 0


def test_staged_but_uncommitted_batch_is_invisible(spark, sf_dir, tmp_path):
    feed = cdc_events(spark, sf_dir)
    first = feed.filter(F.col("change_seq") < 300)
    n_first = first.count()
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    assert sink.commit_batch(first)["batch_id"] == 0
    # simulate a crash AFTER rename but BEFORE manifest append: write a
    # directory into data/ with no manifest record
    feed.filter(F.col("change_seq") >= 300).limit(5).write.mode("overwrite").parquet(
        str(tmp_path / "out/data/batch=1")
    )
    assert sink.read_committed(spark).count() == n_first  # phantom dir ignored
    assert set(sink.committed_batches()) == {0}
    # the next commit takes the crashed batch's id and supersedes the
    # phantom dir: it overwrites data/batch=1 and the manifest records it
    replay = feed.filter(F.col("change_seq") < 330)
    n_new = replay.filter(F.col("change_seq") >= 300).count()
    assert n_new > 0
    assert sink.commit_batch(replay)["batch_id"] == 1
    assert set(sink.committed_batches()) == {0, 1}
    assert sink.read_committed(spark).count() == n_first + n_new


def test_observed_metrics_and_reporters(spark, sf_dir, tmp_path):
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 1500)
    n_feed = feed.count()
    observed, obs = observed_batch(feed)
    t0 = time.time()
    observed.write.format("noop").mode("overwrite").save()
    mem = AccumulatingReporter()
    fpath = tmp_path / "metrics.json"
    m = report_batch(obs.get, 7, t0, [mem, LocalFileReporter(str(fpath))])
    assert m.interval_start_ts == t0
    assert m.rows == n_feed
    assert m.rows == m.deletes + m.inserts + m.updates + m.snapshots
    assert m.max_index == feed.agg(F.max("change_seq")).collect()[0][0]
    assert mem.emitted == [m]
    assert json.loads(fpath.read_text())["batch_id"] == 7


def test_load_reporters_spec(tmp_path):
    from sqlserver_cdc_to_kafka_spark.streaming.metrics import (
        HttpPostReporter,
        KafkaTopicReporter,
    )

    rs = load_reporters(
        f"stdout, file:{tmp_path}/m.json, memory,"
        f" http://localhost:1/metrics, kafka:{tmp_path}/topics"
    )
    assert isinstance(rs[0], StdoutReporter)
    assert isinstance(rs[1], LocalFileReporter)
    assert isinstance(rs[2], AccumulatingReporter)
    assert isinstance(rs[3], HttpPostReporter)
    assert rs[3].url == "http://localhost:1/metrics"
    assert isinstance(rs[4], KafkaTopicReporter)


def _metrics(batch_id=3):
    from sqlserver_cdc_to_kafka_spark.streaming.metrics import BatchMetrics

    return BatchMetrics(
        interval_start_ts=1723500000.0,
        batch_id=batch_id,
        rows=10,
        deletes=1,
        inserts=5,
        updates=3,
        snapshots=1,
        max_index=999,
        batch_seconds=0.25,
    )


def test_http_post_reporter_posts_json_and_template(tmp_path):
    """Spin a real local HTTP server and assert the posted payload shape
    (reference metric_reporting/http_post_reporter.py:29-45)."""
    import http.server
    import threading

    from sqlserver_cdc_to_kafka_spark.streaming.metrics import HttpPostReporter

    received: list[tuple[str, bytes, str]] = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append((self.path, body, self.headers.get("X-Auth", "")))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/metrics"
        # default JSON body + custom header
        HttpPostReporter(url, headers={"X-Auth": "tok"}, synchronous=True).emit(
            _metrics()
        )
        assert received[0][0] == "/metrics"
        assert received[0][2] == "tok"
        payload = json.loads(received[0][1])
        assert payload["batch_id"] == 3
        assert payload["rows"] == 10
        # templated body ($field placeholders, the reference's Jinja2 analog)
        HttpPostReporter(
            url,
            template='{"series": "cdc", "n": $rows, "b": $batch_id}',
            synchronous=True,
        ).emit(_metrics(batch_id=4))
        assert json.loads(received[1][1]) == {"series": "cdc", "n": 10, "b": 4}
        # a dead endpoint is logged-and-dropped, never raises
        HttpPostReporter("http://127.0.0.1:1/x", synchronous=True).emit(_metrics())
    finally:
        srv.shutdown()


def test_kafka_topic_reporter_appends_keyed_records(tmp_path):
    from sqlserver_cdc_to_kafka_spark.streaming.metrics import (
        DEFAULT_METRICS_TOPIC,
        KafkaTopicReporter,
    )

    rep = KafkaTopicReporter(str(tmp_path / "topics"))
    rep.emit(_metrics(batch_id=1))
    rep.emit(_metrics(batch_id=2))
    msgs = rep.read_back()
    assert [m["value"]["batch_id"] for m in msgs] == [1, 2]
    assert all(m["key"] == {"metrics_namespace": "cdc_to_kafka"} for m in msgs)
    assert (tmp_path / "topics" / DEFAULT_METRICS_TOPIC / "messages.jsonl").exists()


def test_streaming_query_listener_captures_progress(spark, sf_dir, tmp_path):
    import shutil as _sh

    from sqlserver_cdc_to_kafka_spark.streaming.metrics import make_progress_listener
    from sqlserver_cdc_to_kafka_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    src = tmp_path / "src"; src.mkdir()
    stage = tmp_path / "stage"
    ev.coalesce(1).write.mode("overwrite").parquet(str(stage))
    _sh.copyfile(next(stage.glob("part-*.parquet")), src / "a.parquet")

    events: list = []
    listener = make_progress_listener(events)
    spark.streams.addListener(listener)
    try:
        q = (
            spark.readStream.schema(ev.schema).parquet(str(src))
            .writeStream.format("noop").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        import time as _t
        for _ in range(50):  # listener delivery is async
            if any(k == "progress" for k, _v in events):
                break
            _t.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    kinds = {k for k, _v in events}
    assert "started" in kinds and "progress" in kinds
    prog = [v for k, v in events if k == "progress"]
    assert sum(p["num_input_rows"] for p in prog) == ev.count()


def test_time_travel_read(spark, sf_dir, tmp_path):
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 3000)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    MicroBatcher(feed, sink, batch_size=400).run_to_completion()
    n_all = sink.read_committed(spark).count()
    n_b0 = sink.read_committed(spark, as_of=0).count()
    n_b1 = sink.read_committed(spark, as_of=1).count()
    assert n_b0 == 400 and n_b1 == 800 and n_all == feed.count()
    import pytest as _pt
    with _pt.raises(ValueError):
        sink.read_committed(spark, as_of=-1)
