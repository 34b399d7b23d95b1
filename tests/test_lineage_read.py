"""completed_buckets: a lineage table that does not exist yet means no
bucket is done; one that exists but cannot be read must fail the resume
instead of letting it recompute and overwrite every bucket."""

import pytest

from pdf_extractor_spark.pipeline import completed_buckets


def test_missing_and_empty_lineage_read_as_no_buckets(spark, tmp_path):
    assert completed_buckets(spark, str(tmp_path / "missing"), "r") == set()
    (tmp_path / "empty").mkdir()
    assert completed_buckets(spark, str(tmp_path / "empty"), "r") == set()


def test_corrupt_lineage_raises(spark, tmp_path):
    bad = tmp_path / "metrics"
    bad.mkdir()
    (bad / "part-0.parquet").write_bytes(b"garbage bytes")
    with pytest.raises(Exception, match="(?i)not a parquet file"):
        completed_buckets(spark, str(bad), "r")
