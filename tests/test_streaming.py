from __future__ import annotations


def test_curation_transforms_are_streaming_safe(spark, tmp_path):
    """Stateless curation ops (PII redaction, stratified sampling) apply
    to readStream frames unchanged and match their batch output."""
    from notion_spark.pipeline import curation as CU

    src = tmp_path / "cur_src"
    src.mkdir()
    out_dir = str(tmp_path / "cur_out")
    schema = "doc_id long, text string, lang string"
    rows = [
        (1, "mail a@b.co now", "en"),
        (2, "ssn 123-45-6789 here", "en"),
        (3, "clean text", "de"),
        (4, "call 555-123-4567", "de"),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / "b1"))

    def xform(df):
        return CU.stratified_sample(
            df, "lang", {"en": 1.0, "de": 1.0}, key_col="doc_id"
        ).select("doc_id", CU.redact_pii("text").alias("clean"))

    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (
        xform(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_cur"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r.doc_id, r.clean) for r in spark.read.parquet(out_dir).collect()}
    want = {(r.doc_id, r.clean) for r in xform(spark.createDataFrame(rows, schema)).collect()}
    assert got == want
    assert (2, "ssn <SSN> here") in got


def test_stream_classify_foreachbatch_matches_batch(spark, tmp_path):
    """Streaming model inference: score each micro-batch against a
    STATIC broadcast weight table (the train-offline / score-online
    split). classify()'s per-doc argmax window is not a streaming
    operator, so the realistic envelope is foreachBatch — documents
    are scored batch-at-a-time and the union equals the batch answer
    (per-doc scores depend only on that doc's tokens and the static
    model, never on other stream rows)."""
    from notion_spark.pipeline.classify import classify, train_class_weights

    schema = "doc_id long, text string, lab string"
    rows = [
        (1, "aa bb aa cc", "A"), (2, "bb cc aa aa aa", "A"),
        (3, "zz yy zz xx", "Z"), (4, "yy xx zz zz", "Z"),
    ]
    train = spark.createDataFrame(rows, schema)
    weights = train_class_weights(train, "lab", n_buckets=128)
    weights.cache().count()  # static side, reused every micro-batch

    src = tmp_path / "clf_src"
    src.mkdir()
    out_dir = str(tmp_path / "clf_out")
    spark.createDataFrame(rows[:2], schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(rows[2:], schema).coalesce(1).write.parquet(str(src / "b2"))

    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, _eid: classify(bdf, weights, n_buckets=128)
            .write.mode("append")
            .parquet(out_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_clf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r.doc_id, r.label) for r in spark.read.parquet(out_dir).collect()}
    want = {
        (r.doc_id, r.label)
        for r in classify(train, weights, n_buckets=128).collect()
    }
    assert got == want == {(1, "A"), (2, "A"), (3, "Z"), (4, "Z")}
