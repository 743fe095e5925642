"""Pre-publish validation gate: a corrupted corpus must fail publish
with a typed error (reference: hail_tasks.py:91-115 match-ratio
validation with SeqrValidationError)."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pytest

from hail_elasticsearch_pipelines_spark.operators.index_build import build_index
from hail_elasticsearch_pipelines_spark.plans.validate import (
    DocLengthDistributionError,
    DuplicateRateError,
    EmptyExtractionRateError,
    ValidationThresholds,
)
from hail_elasticsearch_pipelines_spark.sources.corpus import gen_pages_pdf

SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
TS = dt.datetime(2025, 1, 1)


def _pages(texts):
    return [(f"http://x/{i:04d}", TS, None, t, "en") for i, t in enumerate(texts)]


def test_duplicate_corpus_fails_publish(spark, tmp_path):
    out = str(tmp_path / "idx")
    texts = ["the same exact document text"] * 30 + [f"unique doc {i}" for i in range(10)]
    with pytest.raises(DuplicateRateError) as ei:
        build_index(
            spark, spark.createDataFrame(_pages(texts), SCHEMA), out,
            docs_per_part=16, seg_group=2, n_term_buckets=4,
            validation=ValidationThresholds(max_dup_ratio=0.2),
        )
    assert ei.value.metric == "dup_ratio" and ei.value.value > 0.2
    assert not os.path.exists(os.path.join(out, "_INDEX_PUBLISHED"))


def test_empty_extraction_fails_publish(spark, tmp_path):
    out = str(tmp_path / "idx")
    texts = [""] * 10 + [f"real document number {i} with words" for i in range(10)]
    with pytest.raises(EmptyExtractionRateError):
        build_index(
            spark, spark.createDataFrame(_pages(texts), SCHEMA), out,
            docs_per_part=16, seg_group=2, n_term_buckets=4,
            validation=ValidationThresholds(max_empty_ratio=0.1),
        )
    assert not os.path.exists(os.path.join(out, "_INDEX_PUBLISHED"))


def test_avgdl_bounds(spark, tmp_path):
    out = str(tmp_path / "idx")
    texts = [f"a b {i}" for i in range(20)]  # avgdl == 3
    with pytest.raises(DocLengthDistributionError):
        build_index(
            spark, spark.createDataFrame(_pages(texts), SCHEMA), out,
            docs_per_part=16, seg_group=2, n_term_buckets=4,
            validation=ValidationThresholds(min_avgdl=10.0),
        )


def test_healthy_corpus_publishes_with_report(spark, tmp_path):
    out = str(tmp_path / "idx")
    manifest = build_index(
        spark, spark.createDataFrame(gen_pages_pdf(np.arange(40))), out,
        docs_per_part=16, seg_group=2, n_term_buckets=4,
    )
    v = manifest["validation"]
    assert v["n_docs"] == manifest["globals"]["n_docs"]
    assert v["empty_ratio"] <= 0.05 and v["dup_ratio"] <= 0.9
    assert v["thresholds"]["max_dup_ratio"] == 0.9
    assert os.path.exists(os.path.join(out, "_INDEX_PUBLISHED"))


def test_dup_ratio_clamped_when_distinct_estimate_overshoots():
    """approx_count_distinct can report more distinct texts than docs."""
    from hail_elasticsearch_pipelines_spark.plans.validate import validate_globals

    m = validate_globals(
        {"n_docs": 1000, "n_uniq_texts": 1013, "avgdl": 50.0}, ValidationThresholds()
    )
    assert m["dup_ratio"] == 0.0
