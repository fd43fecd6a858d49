"""Guards on SQL text built from Python strings.

Code that interpolates values raw into Spark-SQL text must reject a
value that would not parse as intended -- with ``ValueError``, so the
check also holds under ``python -O``, where ``assert`` is stripped.
"""

from __future__ import annotations

import pytest

from flights_etl_pipeline_spark.plans import queries_simsearch, queries_text

CENTS = [(1, [1.0, 0.0], 1.0), (2, [0.0, 1.0], 1.0)]


@pytest.fixture
def docs(spark):
    return spark.createDataFrame([("the cat and the hat", "en")], "text string, lang string")


def test_gopher_metrics_renders_quote_free_stopwords(docs):
    m = queries_text.gopher_metrics(docs, "lang")
    assert "n_stop_distinct" in m.columns


@pytest.mark.parametrize("lang, words", [("xx", ("don't",)), ("x'x", ("ok",))])
def test_gopher_metrics_rejects_quoted_stopwords(docs, monkeypatch, lang, words):
    monkeypatch.setitem(queries_text.STOPWORDS, lang, words)
    with pytest.raises(ValueError, match="quote"):
        queries_text.gopher_metrics(docs, "lang")


@pytest.mark.parametrize(
    "kwargs", [{"emb_col": "emb col"}, {"emb_col": "`emb`"}, {"enorm_col": "e-norm"}]
)
def test_nearest_centroid_rejects_non_identifier_columns(kwargs):
    with pytest.raises(ValueError, match="identifier"):
        queries_simsearch._nearest_centroid(CENTS, **kwargs)


def test_nearest_cid_rejects_non_identifier_column():
    with pytest.raises(ValueError, match="identifier"):
        queries_simsearch._nearest_cid(CENTS, emb_col="emb.col")
