"""applyInPandasWithState conversation-session tracker."""
from __future__ import annotations

from pyspark.sql import types as T

from docext_spark.streaming.stateful import conversation_sessions_stream

IN_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("kind", T.StringType()),
])


def _latest(rows):
    # current summary = max batch_id per conv (the explicit ordering column
    # the sink writes; n_turns fallback kept for monotone sanity)
    out = {}
    for r in rows:
        if r["conv_id"] not in out or r["batch_id"] > out[r["conv_id"]]["batch_id"]:
            out[r["conv_id"]] = r
    return out


def test_stateful_session_tracking_and_resume(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    rows = [("c1", 0, "html"), ("c1", 1, "plain"), ("c1", 2, "html"),
            ("c2", 0, "pdf_text")]
    spark.createDataFrame(rows, IN_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    out = conversation_sessions_stream(spark, in_dir, IN_SCHEMA, ckpt, out_dir)
    got = _latest(out.collect())
    assert got["c1"]["n_turns"] == 3
    assert got["c1"]["n_html"] == 2
    assert got["c1"]["max_turn_idx"] == 2
    assert got["c2"]["n_turns"] == 1

    # second batch: per-key state persists across runs via the checkpoint
    spark.createDataFrame([("c1", 3, "plain")], IN_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    out2 = conversation_sessions_stream(spark, in_dir, IN_SCHEMA, ckpt, out_dir)
    got2 = _latest(out2.collect())
    assert got2["c1"]["n_turns"] == 4
    assert got2["c1"]["max_turn_idx"] == 3
    assert got2["c2"]["n_turns"] == 1  # untouched key keeps its state


def test_replayed_batch_is_written_once(spark, tmp_path):
    """A crash between the sink write and the checkpoint commit replays
    the batch on restart; its rows must not land twice."""
    in_dir = str(tmp_path / "in")
    ckpt = tmp_path / "ckpt"
    out_dir = str(tmp_path / "out")
    rows = [("c1", 0, "html"), ("c1", 1, "plain"), ("c2", 0, "pdf_text")]
    spark.createDataFrame(rows, IN_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    conversation_sessions_stream(spark, in_dir, IN_SCHEMA, str(ckpt),
                                 out_dir)
    commits = ckpt / "commits"
    last = max((p for p in commits.iterdir() if p.name.isdigit()),
               key=lambda p: int(p.name))
    last.unlink()
    (commits / f".{last.name}.crc").unlink(missing_ok=True)
    out = conversation_sessions_stream(spark, in_dir, IN_SCHEMA, str(ckpt),
                                       out_dir)
    assert last.exists()                 # the batch really was replayed
    keys = [(r["conv_id"], r["batch_id"]) for r in out.collect()]
    assert sorted(keys) == sorted(set(keys)) and len(keys) == 2
