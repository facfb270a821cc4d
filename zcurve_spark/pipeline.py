"""End-to-end resumable pipeline: the north-rule job.

ingest interleaved docs -> explode spans -> derive geo -> curve-encode ->
zkey-sorted checkpoint (stage `spans_sorted`) -> tile statistics (stage
`tile_stats`) -> box-batch spatial join demo.

Every stage writes through StageRunner: a re-run with unchanged input
fingerprints skips completed stages (per-partition lineage + metrics in
each stage's manifest).  Designed for `spark-submit --py-files` — see
submit_main.py.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .operators.bbox import bbox_join_bucketed, bucketed_intervals_dist, count_hits
from .operators.tiles import assign_tiles
from .sources.interleaved import explode_spans, interleaved_docs, with_span_geo
from .sources.manifest import StageRunner, load_manifest
from .sources.points import boxes_local_df


def _fingerprint(sf_dir: str, **params) -> str:
    """Input identity for resume decisions: path + doc parquet mtime+size
    + every stage-relevant parameter — re-running with e.g. different
    --bits against the same work dir must NOT resume the stale layout."""
    p = f"{sf_dir}/documents.parquet"
    st = os.stat(p)
    ptag = ",".join(f"{k}={params[k]}" for k in sorted(params))
    return f"{p}:{st.st_size}:{int(st.st_mtime)}:{ptag}"


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    *,
    bits: int = 30,
    n_partitions: int = 32,
    tile_level: int = 8,
    boxes: list[dict] | None = None,
) -> dict:
    """Run (or resume) the full pipeline; returns a metrics dict."""
    sr = StageRunner(spark, work_dir)
    fp = _fingerprint(
        sf_dir, bits=bits, n_partitions=n_partitions, tile_level=tile_level,
        levels=(4, 8, 12),
    )

    # stage 1: encoded spans, zkey-sorted + manifest
    def build_spans():
        docs = interleaved_docs(spark, sf_dir)
        spans = with_span_geo(explode_spans(docs), bits=bits)
        return assign_tiles(spans, levels=(4, 8, 12), bits=bits)

    spans = sr.run("spans_sorted", fp, build_spans, n_partitions=n_partitions)

    # stage 2: per-tile statistics (skew input for the salting decision)
    def build_tiles():
        return (
            spans.groupBy(F.col(f"tile_l{tile_level}").alias("tile_id"))
            .agg(
                F.count(F.lit(1)).alias("n_spans"),
                F.countDistinct("doc_id").alias("n_docs"),
                F.sum((F.col("kind") == "media").cast("long")).alias("n_media"),
            )
            .withColumn("zkey", F.col("tile_id"))  # sortable key for layout
        )

    tiles = sr.run("tile_stats", fp, build_tiles, n_partitions=8)

    # stage 3: box-batch spatial join over the sorted layout
    if boxes is None:
        n = 1 << bits
        boxes = [
            {
                "qid": i,
                "mins": ((i * n // 16) % (n - n // 8), (i * n // 8 + n // 5) % (n - n // 8)),
                "maxs": None,
            }
            for i in range(8)
        ]
        for b in boxes:
            b["maxs"] = (b["mins"][0] + n // 8 - 1, b["mins"][1] + n // 8 - 1)
    bdf = boxes_local_df(spark, boxes)
    bivs, shift = bucketed_intervals_dist(bdf, bits=bits, budget=16)
    hits = bbox_join_bucketed(spans, bdf, bivs, shift, coord_cols=("qx", "qy"))
    box_counts = {r["qid"]: r["n_hits"] for r in count_hits(bdf, hits).collect()}

    m_spans = load_manifest(sr.stage_path("spans_sorted"))
    m_tiles = load_manifest(sr.stage_path("tile_stats"))
    return {
        "spans": m_spans["total_rows"],
        "span_files": m_spans["metrics"]["n_files"],
        "tiles": m_tiles["total_rows"],
        "box_counts": box_counts,
        "work_dir": work_dir,
    }


def main(argv=None) -> None:
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser(description="zcurve_spark resumable pipeline")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--work-dir", default="/tmp/zcurve_pipeline")
    ap.add_argument("--bits", type=int, default=30)
    ap.add_argument("--partitions", type=int, default=32)
    args = ap.parse_args(argv)

    spark = SparkSession.getActiveSession() or get_spark(app="zcurve-pipeline")
    out = run_pipeline(
        spark, args.sf_dir, args.work_dir, bits=args.bits, n_partitions=args.partitions
    )
    print(json.dumps(out))
