"""Flat all-members banding for the near-dup operators — the reference the
streaming twins pin their bounded replays against.

The batch operators (``minhash_lsh_candidates``, ``embedding_neardup_pairs``)
collapse identical keys to a min-id representative before banding.  A
stream cannot know that global representative, so its replay equals this
flat shape instead: every row is banded, and pairs come from the shared
``bucket_pairs`` cap.  Built only from the public banding pieces the
streaming operators use themselves (``band_bucket_posexplode``,
``band_plane_exprs``).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def flat_minhash_candidates(sigs, id_col="doc_id", bands=8, rows_per_band=4,
                            max_bucket_size=500):
    """Distinct (id_a, id_b) from banding EVERY signature (no collapse)."""
    from mcp_clickhouse_spark.pipeline.dedup import (
        band_bucket_posexplode,
        bucket_pairs,
    )

    banded = sigs.selectExpr(id_col, band_bucket_posexplode(bands, rows_per_band))
    return bucket_pairs(banded, id_col, max_bucket_size).distinct()


def cosine_verify(pairs, corpus, threshold, id_col="vec_id",
                  vec_col="embedding"):
    """(id_a, id_b, cosine) for candidate pairs with cosine >= threshold —
    the exact verify of ``embedding_neardup_pairs``."""
    from mcp_clickhouse_spark.pipeline.similarity import _dot_sql, _norm_sql

    meta = corpus.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"),
        F.expr(_norm_sql(vec_col)).alias("_norm"),
    )

    def side(s):
        return meta.select(F.col("_id").alias(f"id_{s}"),
                           F.col("_vec").alias(f"vec_{s}"),
                           F.col("_norm").alias(f"norm_{s}"))

    return (
        pairs.join(side("a"), on="id_a").join(side("b"), on="id_b")
        .withColumn(
            "cosine",
            F.expr(f"round({_dot_sql('vec_a', 'vec_b')} / (norm_a * norm_b), 6)"),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def flat_embedding_neardup_pairs(corpus, threshold=0.45, id_col="vec_id",
                                 vec_col="embedding", bands=2,
                                 planes_per_band=6, dim=64,
                                 max_bucket_size=1000):
    """Embedding near-dup pairs from banding EVERY vector (no collapse)."""
    from mcp_clickhouse_spark.pipeline.dedup import bucket_pairs
    from mcp_clickhouse_spark.pipeline.similarity import band_plane_exprs

    plane_cols, bucket_exprs = band_plane_exprs(vec_col, bands, planes_per_band, dim)
    banded = corpus.select(F.col(id_col), *plane_cols).select(
        F.col(id_col),
        F.posexplode(F.array(*[F.expr(e) for e in bucket_exprs])).alias(
            "band", "bucket"
        ),
    )
    pairs = bucket_pairs(banded, id_col, max_bucket_size).distinct()
    return cosine_verify(pairs, corpus, threshold, id_col, vec_col)
