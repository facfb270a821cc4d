"""Span-sequence invariant (SURVEY.md §5.2 item 4): per-doc
(kind, text, media_ref, order) byte-equal through every transform —
the target analog of the reference's TID fidelity (zcurve.c:123-140)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zcurve_spark.operators.tiles import assign_tiles
from zcurve_spark.sources.interleaved import (
    explode_spans,
    interleaved_docs,
    reassemble,
    with_span_geo,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = interleaved_docs(spark, SF_DIR).cache()
    d.count()
    return d


def _seqs(df):
    """doc_id -> tuple of (kind, text, media_ref) in offset order."""
    rows = df.select("doc_id", "spans").collect()
    return {
        r["doc_id"]: tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"])
        for r in rows
    }


def test_schema_matches_input_hint(docs):
    f = dict(docs.dtypes)
    assert f["doc_id"] == "string"
    assert f["spans"] == "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def test_explode_reassemble_identity(docs):
    orig = _seqs(docs)
    back = _seqs(reassemble(explode_spans(docs)))
    assert back == orig


def test_invariant_through_geo_and_tiles(docs):
    orig = _seqs(docs)
    spans = with_span_geo(explode_spans(docs), bits=30)
    tiled = assign_tiles(spans, levels=(8,), bits=30)
    back = _seqs(reassemble(tiled))
    assert back == orig


def test_invariant_through_shuffle_and_join(spark, docs):
    orig = _seqs(docs)
    spans = with_span_geo(explode_spans(docs), bits=30).repartition(16, "zkey")
    # join against a derived per-doc dim table, and left-join a per-ref
    # table (one row per distinct media_ref) onto the spans, then
    # reassemble each
    dim = spans.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    refs = (
        spans.filter(F.col("kind") == "media")
        .select("media_ref")
        .distinct()
        .withColumn("ref_hash", F.xxhash64("media_ref"))
    )
    by_ref = spans.join(refs, "media_ref", "left")
    assert by_ref.filter(F.col("ref_hash").isNotNull()).count() == spans.filter(
        F.col("kind") == "media"
    ).count()
    for joined in (spans.join(dim, "doc_id"), by_ref):
        assert _seqs(reassemble(joined)) == orig


def test_invariant_through_checkpoint_roundtrip(spark, docs, tmp_path):
    from zcurve_spark.sources.manifest import write_sorted

    orig = _seqs(docs)
    spans = with_span_geo(explode_spans(docs), bits=30)
    path = str(tmp_path / "spans_sorted")
    write_sorted(spans, path, zkey_col="zkey", n_partitions=8)
    back = _seqs(reassemble(spark.read.parquet(path)))
    assert back == orig


def test_media_and_offsets_wellformed(docs):
    ex = explode_spans(docs)
    bad = ex.filter(
        ((F.col("kind") == "media") & ((F.col("media_ref") == "") | (F.col("text") != "")))
        | ((F.col("kind") == "text") & (F.col("media_ref") != ""))
    ).count()
    assert bad == 0
    # offsets strictly increasing per doc
    w = ex.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("offset").alias("d"),
        (F.max("offset") == (F.count(F.lit(1)) - 1) * 64).alias("dense"),
    )
    assert w.filter((F.col("n") != F.col("d")) | ~F.col("dense")).count() == 0
