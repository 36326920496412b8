from __future__ import annotations


def test_keep_filter_runs_on_stream(spark, tmp_path):
    """keep_filter is a single narrow select, so it is stream-safe by
    construction: the same operator object runs unchanged on a file stream
    and emits batch-identical rows across micro-batches."""
    from pmcanalysis_spark.operators.textstats import keep_filter

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "kf_in")
    rows = docs.collect()
    half = len(rows) // 2
    schema = docs.schema
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.parquet(src + "/b=0")
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.parquet(src + "/b=1")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b=*")
    )
    q = (
        keep_filter(stream)
        .writeStream.format("memory")
        .queryName("kf_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("select * from kf_stream").collect()}
    exp = {tuple(r) for r in keep_filter(docs).collect()}
    assert got == exp and len(got) == len(rows)
