"""File-direct scan module: URI normalisation (pure) and the shared fast
paths on a percent-encoded directory name (Spark)."""

import os

from parquet_python_spark.filescan import local_path


def test_local_path_decodes_file_uris():
    """inputFiles() percent-encodes: decode exactly once; non-local -> None."""
    assert (
        local_path("file:///a/with%20space%2520x/f.parquet")
        == "/a/with space%20x/f.parquet"
    )
    assert local_path("file:/a/b.parquet") == "/a/b.parquet"
    assert local_path("hdfs://nn:8020/a/b.parquet") is None
    assert local_path("s3a://bucket/a.parquet") is None
    assert local_path("file://otherhost/a.parquet") is None


def test_fast_paths_on_percent_encoded_dir(spark, tmp_path):
    """A table under a directory named ``with space%20x`` takes the
    file-direct path in both roundtrip and decode_blocks: the plan is a
    Range dispatch with no parquet scan and no exchange, and rows are
    unchanged."""
    from pyspark.sql import functions as F

    from parquet_python_spark.engine import decode_blocks, encode_job
    from parquet_python_spark.operators.generic_codec import roundtrip
    from parquet_python_spark.tokengen import generate_tokens_df

    base = tmp_path / "with space%20x"

    def assert_file_direct(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Range" in plan
        assert "Scan parquet" not in plan
        assert "Exchange" not in plan

    tbl_path = str(base / "tbl")
    spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).write.parquet(tbl_path)
    tbl = spark.read.parquet(tbl_path)
    rt = roundtrip(tbl, "k", {"k": "int", "v": "int"})
    assert_file_direct(rt)
    assert sorted(map(tuple, rt.collect())) == sorted(map(tuple, tbl.collect()))

    inp, out = str(base / "tok"), str(base / "enc")
    generate_tokens_df(spark, 200, 42).write.parquet(inp)
    encode_job(spark, inp, out)
    dec = decode_blocks(spark.read.parquet(os.path.join(out, "blocks")))
    assert_file_direct(dec)

    def rows(df):
        return sorted(
            (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
            for r in df.collect()
        )

    assert rows(dec) == rows(spark.read.parquet(inp))
