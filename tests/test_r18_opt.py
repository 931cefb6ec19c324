"""Round-18 optimization round: equivalence pins for the operator internals
that changed.

The headline change is pipe_minhash_lsh's candidate generator: the star/
banding two-branch union became ONE generator (members ride synthetic
band=-1 buckets).  Candidate PAIR SETS are the rows-only contract surface,
so the pin is exact set equality against a faithful reconstruction of the
pre-r18 shape, on adversarial synthetic corpora AND the real testdata.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from mcp_clickhouse_spark.session import get_spark

    return get_spark(app_name="test-r18-opt")


def _legacy_candidates(sigs, id_col="doc_id", bands=8, rows_per_band=4,
                       max_bucket_size=500):
    """Byte-faithful reconstruction of the pre-r18 collapse_identical=True
    shape: star pairs from a window-min filter, banding over reps only,
    union, distinct."""
    from pyspark.sql import Window

    from mcp_clickhouse_spark.pipeline.dedup import (
        band_bucket_posexplode,
        bucket_pairs,
    )

    rep_w = Window.partitionBy("signature")
    with_rep = sigs.withColumn("_rep", F.min(id_col).over(rep_w))
    star = with_rep.where(F.col(id_col) != F.col("_rep")).select(
        F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b")
    )
    banded = with_rep.where(F.col(id_col) == F.col("_rep")).selectExpr(
        id_col, band_bucket_posexplode(bands, rows_per_band)
    )
    return bucket_pairs(banded, id_col, max_bucket_size).unionByName(star).distinct()


def _pairs(df):
    return sorted((r["id_a"], r["id_b"]) for r in df.collect())


CORPUS = [
    # exact-dup cluster of 4 (star pairs must attach to min id 10)
    (10, "the quick brown fox jumps over the lazy dog again and again"),
    (11, "the quick brown fox jumps over the lazy dog again and again"),
    (12, "the quick brown fox jumps over the lazy dog again and again"),
    (13, "the quick brown fox jumps over the lazy dog again and again"),
    # near-dup pair (one word changed) — must come from banding
    (20, "pack my box with five dozen liquor jugs before noon today ok"),
    (21, "pack my box with five dozen liquor jugs before noon tomorrow ok"),
    # unique docs
    (30, "completely unrelated content about distributed query planning"),
    (31, "yet another document mentioning shuffle partitions and skew"),
    # short docs (shingle padding path) — identical pair
    (40, "tiny"),
    (41, "tiny"),
    # empty-ish doc
    (50, " "),
    # a second exact-dup cluster interleaved with the near-dups
    (60, "pack my box with five dozen liquor jugs before noon today ok"),
]


def test_minhash_candidates_unified_generator_matches_legacy(spark):
    """One generator for every id type: the synthetic star bucket keys on
    the member id (its string form for a non-integral id), so int and
    non-numeric string ids need no separate union shape."""
    from mcp_clickhouse_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        release_persisted,
    )

    for id_type in ("bigint", "int", "string"):
        key = (lambda i: f"doc-{i}") if id_type == "string" else (lambda i: i)
        df = spark.createDataFrame(
            [(key(i), t) for i, t in CORPUS], f"doc_id {id_type}, text string"
        )
        sigs = minhash_signatures(df, num_hashes=32)
        cand = minhash_lsh_candidates(sigs, bands=8, rows_per_band=4)
        assert dict(cand.dtypes) == {"id_a": id_type, "id_b": id_type}
        got = _pairs(cand)
        want = _pairs(_legacy_candidates(sigs))
        assert got == want and len(got) > 0, id_type
        # structure sanity: doc 60 dups doc 20's text, so (20, 60) is a
        # star pair; the exact-dup cluster stars on 10
        for a, b in ((10, 11), (10, 12), (10, 13), (20, 60)):
            assert (key(a), key(b)) in got, id_type
        release_persisted()
        spark.catalog.clearCache()


def test_neardup_operators_reject_cap_below_two(spark):
    """A bucket capped at one member yields no pairs — the synthetic
    2-row star buckets too — so every exact-dup pair would vanish
    silently.  All three operators refuse the cap instead."""
    from mcp_clickhouse_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        simhash_64,
        simhash_near_dups,
    )
    from mcp_clickhouse_spark.pipeline.similarity import embedding_neardup_pairs

    df = spark.createDataFrame(CORPUS[:3], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="max_bucket_size"):
        minhash_lsh_candidates(minhash_signatures(df), max_bucket_size=1)
    with pytest.raises(ValueError, match="max_bucket_size"):
        simhash_near_dups(simhash_64(df), max_bucket_size=1)
    vecs = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(3)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError, match="max_bucket_size"):
        embedding_neardup_pairs(vecs, dim=4, max_bucket_size=1)


def test_minhash_candidates_null_ids_dropped_like_legacy(spark):
    from mcp_clickhouse_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        release_persisted,
    )

    rows = CORPUS + [
        (None, "the quick brown fox jumps over the lazy dog again and again"),
        (None, "null cluster only text that matches nothing else at all"),
        (None, "null cluster only text that matches nothing else at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sigs = minhash_signatures(df, num_hashes=32)
    got = _pairs(minhash_lsh_candidates(sigs, bands=8, rows_per_band=4))
    want = _pairs(_legacy_candidates(sigs))
    # legacy branch predicates (id =/!= rep) silently dropped NULL ids;
    # the unified generator filters them explicitly — sets must agree and
    # contain no NULLs
    assert got == want
    assert all(a is not None and b is not None for a, b in got)
    release_persisted()
    spark.catalog.clearCache()


def test_minhash_candidates_match_legacy_on_testdata(spark):
    """Full-corpus pin at sf0.001 (real near-dup structure from the driver
    generator) and bucket-cap stress via a tiny max_bucket_size."""
    from mcp_clickhouse_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        release_persisted,
    )
    from mcp_clickhouse_spark.session import read_table

    d = read_table(spark, "/root/testdata/sf0.001", "documents")
    sigs = minhash_signatures(d, num_hashes=32)
    for cap in (500, 2):  # default, and a cap small enough to truncate
        got = _pairs(
            minhash_lsh_candidates(
                sigs, bands=8, rows_per_band=4, max_bucket_size=cap
            )
        )
        want = _pairs(
            _legacy_candidates(sigs, max_bucket_size=cap)
        )
        assert got == want and len(got) > 0, cap
        release_persisted()
        spark.catalog.clearCache()


def test_minhash_lsh_full_query_rows_unchanged(spark):
    """End-to-end: the declared pipe_minhash_lsh output (id_a, id_b,
    jaccard) through the new candidate generator equals the legacy shape
    fed through the same verify."""
    from mcp_clickhouse_spark.pipeline.dedup import (
        jaccard_verify,
        minhash_lsh_candidates,
        minhash_signatures,
        release_persisted,
    )
    from mcp_clickhouse_spark.session import read_table

    d = read_table(spark, "/root/testdata/sf0.001", "documents")
    sigs = minhash_signatures(d, num_hashes=32)
    new = sorted(
        map(tuple, jaccard_verify(
            minhash_lsh_candidates(sigs, bands=8, rows_per_band=4), d,
            threshold=0.5,
        ).collect())
    )
    legacy = sorted(
        map(tuple, jaccard_verify(
            _legacy_candidates(sigs), d, threshold=0.5, precompute_sets=False
        ).collect())
    )
    assert new == legacy and len(new) > 0
    release_persisted()
    spark.catalog.clearCache()


def test_connected_components_one_action_per_round(spark):
    """r18: lazy localCheckpoints — the convergence signature is the ONLY
    job a CC round launches (it materializes the round's checkpoint as a
    side effect).  The eager form cost 2 jobs/round plus 2 upfront
    materializations: this graph took 8 jobs before, 4 after."""
    from mcp_clickhouse_spark.pipeline.clustering import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], ["id_a", "id_b"]
    )
    sc = spark.sparkContext

    def jobs() -> int:
        return int(sc._jsc.sc().dagScheduler().nextJobId())

    # count under AQE-off (the bench regime): AQE adds a scheduler job per
    # exchange stage, which would drown the action count being pinned
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        got = sorted(map(tuple, dedup_clusters(pairs).collect()))  # warm
        j0 = jobs()
        assert sorted(map(tuple, dedup_clusters(pairs).collect())) == got
        n_jobs = jobs() - j0
        # initial signature + <=2 round signatures + final collect
        assert n_jobs <= 4, n_jobs
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    # labels correct: {1,2,3} -> 1, {10,11} -> 10, {20} -> 20
    assert got == [(1, 1, 3, True), (2, 1, 3, False), (3, 1, 3, False),
                   (10, 10, 2, True), (11, 10, 2, False), (20, 20, 1, True)]


def test_asof_prefilter_gated_on_selectivity(spark):
    """r18 asof probe-side prune (guide §3.2): fires only when the left is
    broadcast-small AND ≫smaller than the right; the bench shape (two
    comparable filters of the same table) must keep its plan unchanged."""
    from mcp_clickhouse_spark.operators.asof_join import asof_join
    from mcp_clickhouse_spark.plans import explain_formatted
    from mcp_clickhouse_spark.session import read_table

    sf = "/root/testdata/sf0.01"
    ev = read_table(spark, sf, "events")
    # bench shape: comparable sides -> NO semi-join in the plan
    left_big = ev.where(F.col("event_type") != "signup").select(
        "event_id", "user_id", "ts"
    )
    right = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", "value"
    )
    plain = asof_join(left_big, right, on=["user_id"], left_ts="ts",
                      right_ts="ts", right_cols=["value"])
    assert "LeftSemi" not in explain_formatted(plain)

    # selective probe: a parquet-backed tiny left (real size statistics —
    # a createDataFrame local frame reads as unknown/Long.Max and correctly
    # takes the conservative branch) against a 100x bigger right history
    left_small = read_table(spark, "/root/testdata/sf0.001", "events").where(
        F.col("event_type") != "signup"
    ).select("event_id", "user_id", "ts")
    right_big = read_table(spark, "/root/testdata/sf0.1", "events").where(
        F.col("event_type") == "signup"
    ).select("user_id", "ts", "value")
    # NULL-key vector: the window groups NULL keys together, so NULL-key
    # left rows match NULL-key right rows and the prune must keep those
    def null_some(df, m):
        return df.withColumn(
            "user_id",
            F.when(F.col("user_id") % m == 0, None).otherwise(F.col("user_id")),
        )

    vectors = [
        (left_small, right_big),
        (null_some(left_small, 3), null_some(right_big, 3)),
    ]
    import unittest.mock as mock

    for lf, rt in vectors:
        pruned = asof_join(lf, rt, on=["user_id"], left_ts="ts",
                           right_ts="ts", right_cols=["value"])
        assert "LeftSemi" in explain_formatted(pruned)
        # rows identical to the ungated formulation (prune only removes
        # right rows that join to nothing): rebuild with the estimator
        # disabled
        with mock.patch(
            "mcp_clickhouse_spark.plans.inspect.estimated_size_bytes",
            return_value=None,
        ):
            ref = asof_join(lf, rt, on=["user_id"], left_ts="ts",
                            right_ts="ts", right_cols=["value"])
            assert "LeftSemi" not in explain_formatted(ref)
            ref_rows = ref.collect()
        got = pruned.collect()
        assert sorted(map(repr, got)) == sorted(map(repr, ref_rows))
        assert len(got) > 0
    # the NULL-key vector really has NULL-key matches to lose
    assert any(r["user_id"] is None and r["value_r"] is not None for r in ref_rows)


def _legacy_simhash_neardups(hashes, id_col="doc_id", max_hamming=3,
                             blocks=4, max_bucket_size=500):
    """Pre-r18 simhash_near_dups: window stars + SEPARATE groupBy reps +
    pigeonhole banding, unioned."""
    from pyspark.sql import Window

    from mcp_clickhouse_spark.pipeline.dedup import SIMHASH_BITS

    rep_w = Window.partitionBy("simhash")
    with_rep = hashes.withColumn("_rep", F.min(id_col).over(rep_w))
    intra = with_rep.where(F.col(id_col) != F.col("_rep")).select(
        F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b"),
        F.lit(0).alias("hamming"),
    )
    reps = hashes.groupBy("simhash").agg(F.min(id_col).alias(id_col))
    width = SIMHASH_BITS // blocks
    chunked = reps.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(blocks - 1)),
                lambda b: F.aggregate(
                    F.sequence(F.lit(width - 1), F.lit(0), F.lit(-1)),
                    F.lit(0).cast("bigint"),
                    lambda acc, i: acc * 2
                    + F.getbit(F.col("simhash"), b * width + i),
                ),
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    cap_w = Window.partitionBy("chunk_idx", "chunk_val").orderBy(id_col)
    capped = chunked.withColumn("_rn", F.row_number().over(cap_w)).where(
        F.col("_rn") <= max_bucket_size
    )
    buckets = capped.groupBy("chunk_idx", "chunk_val").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("id"), "simhash"))
        ).alias("_e")
    )
    cand = (
        buckets.where(F.size("_e") >= 2)
        .select(F.col("_e"), F.posexplode("_e").alias("_i", "a"))
        .select(
            F.col("a"),
            F.explode(F.slice(F.col("_e"), F.col("_i") + 2, F.size("_e"))).alias("b"),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    cross = (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return intra.unionByName(cross)


def test_simhash_neardups_unified_generator_matches_legacy(spark):
    from mcp_clickhouse_spark.pipeline.dedup import simhash_64, simhash_near_dups
    from mcp_clickhouse_spark.session import read_table

    d = read_table(spark, "/root/testdata/sf0.001", "documents")
    hashes = simhash_64(d)
    # NULL ids: one joins an existing doc's fingerprint cluster as a
    # member, two form a NULL-only cluster far (hamming 60) from it
    sh0 = hashes.orderBy("doc_id").first()["simhash"]
    nulls = spark.createDataFrame(
        [(None, sh0), (None, sh0 ^ ((1 << 60) - 1)), (None, sh0 ^ ((1 << 60) - 1))],
        hashes.schema,
    )
    for frame in (hashes, hashes.unionByName(nulls)):
        for mh, cap in ((3, 500), (6, 500), (3, 2)):
            got = sorted(
                map(tuple, simhash_near_dups(
                    frame, max_hamming=mh, max_bucket_size=cap).collect())
            )
            want = sorted(
                map(tuple, _legacy_simhash_neardups(
                    frame, max_hamming=mh, max_bucket_size=cap).collect())
            )
            assert got == want and len(got) > 0, (mh, cap)
            assert all(a is not None and b is not None for a, b, _ in got)
    # the one shared plan computes fingerprints once: a single Window, no
    # Union, no second aggregation over the corpus words
    from mcp_clickhouse_spark.plans import count_nodes, explain_formatted

    plan = explain_formatted(simhash_near_dups(hashes))
    assert count_nodes(plan, "Union") == 0


def _legacy_embedding_neardups(corpus, threshold=0.45, id_col="vec_id",
                               vec_col="embedding", bands=2,
                               planes_per_band=6, dim=64,
                               max_bucket_size=1000):
    """Pre-r18 embedding_neardup_pairs collapse shape (star union)."""
    from pyspark.sql import Window

    from mcp_clickhouse_spark.pipeline.dedup import bucket_pairs
    from mcp_clickhouse_spark.pipeline.similarity import band_plane_exprs
    from tests.neardup_reference import cosine_verify

    rep_w = Window.partitionBy(vec_col)
    with_rep = corpus.select(id_col, vec_col).withColumn(
        "_rep", F.min(id_col).over(rep_w)
    )
    star = with_rep.where(F.col(id_col) != F.col("_rep")).select(
        F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b")
    )
    reps = with_rep.where(F.col(id_col) == F.col("_rep")).drop("_rep")
    plane_cols, bucket_exprs = band_plane_exprs(vec_col, bands, planes_per_band, dim)
    projected = reps.select(F.col(id_col), *plane_cols)
    banded = projected.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.expr(e) for e in bucket_exprs])).alias(
            "band", "bucket"
        ),
    )
    pairs = (
        bucket_pairs(banded, id_col, max_bucket_size).unionByName(star).distinct()
    )
    return cosine_verify(pairs, corpus, threshold, id_col, vec_col)


def test_embedding_neardups_unified_generator_matches_legacy(spark):
    from mcp_clickhouse_spark.pipeline.similarity import embedding_neardup_pairs
    from mcp_clickhouse_spark.session import read_table

    e = read_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    # inject exact duplicates so the star/member path is exercised: ids
    # 900000+k copy the embeddings of the 3 smallest vec_ids
    dup_src = e.orderBy("vec_id").limit(3).collect()
    dups = spark.createDataFrame(
        [(900000 + i, r["embedding"]) for i, r in enumerate(dup_src)],
        e.schema,
    )
    e = e.unionByName(dups)
    # NULL ids: one copies the smallest vec_id's embedding (a member of its
    # cluster), two share a vector of their own (a NULL-only cluster)
    nulls = spark.createDataFrame(
        [(None, dup_src[0]["embedding"])] + [(None, [0.5] * 64)] * 2, e.schema
    )
    for frame in (e, e.unionByName(nulls)):
        got = sorted(
            map(tuple, embedding_neardup_pairs(frame, threshold=0.2).collect())
        )
        want = sorted(
            map(tuple, _legacy_embedding_neardups(frame, threshold=0.2).collect())
        )
        assert got == want and len(got) > 0
        assert all(a is not None and b is not None for a, b, _ in got)
        # the injected duplicates surface as (rep, member) pairs at cosine 1.0
        stars = [(a, b) for a, b, c in got if b >= 900000 and c == 1.0]
        assert len(stars) == 3
