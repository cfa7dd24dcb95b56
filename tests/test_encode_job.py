"""The spark-submit entry (rle_spark/jobs/encode.py): both layouts
encode a token table that decodes bit-identically."""

import json

import pytest

from rle_spark.datagen import token_table
from rle_spark.engine import (decode_dataframe, read_encoded,
                              roundtrip_mismatch_count)
from rle_spark.jobs.encode import main, parse_args


@pytest.mark.parametrize("layout", ["mapside", "clustered"])
def test_encode_job_roundtrip(spark, tmp_path_factory, capsys, layout):
    src = str(tmp_path_factory.mktemp("job_src"))
    out = str(tmp_path_factory.mktemp("job_out"))
    token_table(spark, 60, seed=51).repartition(3).write.mode(
        "overwrite").parquet(src)
    try:
        assert main(["--input", src, "--output", out, "--layout", layout,
                     "--block-tokens", str(1 << 15),
                     "--target-bucket-tokens", str(1 << 17)]) == 0
    finally:
        spark.sparkContext.setLogLevel("ERROR")
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_docs"] == 60 and 0 < summary["ratio"] < 1.0
    df = spark.read.parquet(src)
    decoded = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(df, decoded) == 0


def test_encode_job_has_no_transport_option():
    args = ["--input", "in", "--output", "out"]
    assert parse_args(args).layout == "clustered"
    with pytest.raises(SystemExit):
        parse_args(args + ["--transport", "files"])
