"""``session.small_df`` frames belong to the session they were asked for."""

from __future__ import annotations

from tiledb_vector_search_spark.session import small_df


def test_small_df_after_foreach_batch_uses_callers_session(spark, tmp_path):
    """A ``foreachBatch`` callback constructs a Python session for its
    cloned session; ``small_df`` frames made afterwards must still belong
    to the caller's session, so their temp views resolve through it."""
    src = tmp_path / "src"
    spark.range(3).write.parquet(str(src))
    seen = []

    def on_batch(df, epoch_id):
        seen.append(df.count())

    stream = (
        spark.readStream.schema("id long")
        .parquet(str(src))
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(120)
    assert seen == [3]

    df = small_df(spark, [(1, "a"), (2, "b")], "id long, tag string")
    assert df.sparkSession is spark
    df.createOrReplaceTempView("small_df_session_probe")
    try:
        got = spark.sql("SELECT sum(id) FROM small_df_session_probe").first()[0]
    finally:
        spark.catalog.dropTempView("small_df_session_probe")
    assert got == 3


def test_small_df_empty_rows(spark):
    df = small_df(spark, [], "id long")
    assert df.count() == 0 and df.sparkSession is spark
