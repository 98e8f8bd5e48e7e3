"""ANN similarity + multimodal plumbing + streaming + autoprofile."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(42)
    vecs = rng.randn(40, 8).astype("float32")
    vecs[1] = vecs[0] * 2.0  # same direction as 0 -> cosine 1
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, vecs


def test_bruteforce_topk_matches_numpy(vectors):
    from data_profiler_spark.operators.similarity import ann_topk_bruteforce

    df, vecs = vectors
    q = df.where("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann_topk_bruteforce(df, q, k=5).orderBy("rank").collect()
    v = vecs.astype("float64")
    sims = (v @ v[0]) / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    order = sorted(range(40), key=lambda i: (-round(sims[i], 6), i))[:5]
    assert [r["vec_id"] for r in got] == order
    for r in got:
        assert r["sim"] == pytest.approx(round(sims[r["vec_id"]], 6), abs=2e-6)
    assert got[0]["vec_id"] in (0, 1) and got[0]["sim"] == pytest.approx(1.0)


def test_ivf_recall(vectors):
    from data_profiler_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivf,
    )

    df, _ = vectors
    q = df.where("vec_id IN (0, 7)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = ann_topk_bruteforce(df, q, k=3).collect()
    approx = ann_topk_ivf(df, q, k=3, n_centroids=8, nprobe=8).collect()
    # nprobe == n_centroids -> IVF degenerates to exact: identical results
    key = lambda rows: sorted((r["query_id"], r["vec_id"], r["sim"]) for r in rows)  # noqa: E731
    assert key(exact) == key(approx)


def test_kmeans_refined_ivf_recall(spark):
    """VERDICT r2 #4: quantify IVF recall and show the deterministic Lloyd
    refinement improves it on clustered data (recall@10 >= 0.9 at
    nprobe=3/8, refined >= seed)."""
    import numpy as np

    from data_profiler_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivf,
        ivf_assign,
        kmeans_like_centroids,
        kmeans_refined_centroids,
    )

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(8, 16)) * 6.0
    vecs = np.concatenate(
        [centers[i] + rng.normal(size=(50, 16)) for i in range(8)]
    )
    perm = rng.permutation(len(vecs))  # ids uncorrelated with cluster
    rows = [(i, [float(x) for x in vecs[perm[i]]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact: dict[int, set] = {}
    for r in ann_topk_bruteforce(df, q, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(cents) -> float:
        approx: dict[int, set] = {}
        rows_ = ann_topk_ivf(df, q, k=10, nprobe=3, centroids=cents).collect()
        for r in rows_:
            approx.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(
            len(exact[k] & approx.get(k, set())) / len(exact[k]) for k in exact
        ) / len(exact)

    seed = kmeans_like_centroids(df, "vec_id", "embedding", 8)
    refined = kmeans_refined_centroids(df, "vec_id", "embedding", 8, iters=3)
    r_seed, r_ref = recall(seed), recall(refined)
    print(f"IVF recall@10 nprobe=3/8: seed={r_seed:.3f} refined={r_ref:.3f}")
    assert r_ref >= 0.9
    assert r_ref >= r_seed
    # every refined bucket stays populated (Lloyd keeps empty clusters at
    # their previous centroid; balance itself is data/seed-dependent — a
    # lowest-id seed pair landing in one true cluster is a classic local
    # optimum, so balance is reported, not asserted)
    sizes = [
        r["count"]
        for r in ivf_assign(df, refined, "vec_id", "embedding")
        .groupBy("centroid_id").count().collect()
    ]
    print(f"refined bucket sizes: {sorted(sizes)}")
    assert len(sizes) == 8 and min(sizes) >= 1
    # determinism: a second refinement run yields identical centroids
    again = kmeans_refined_centroids(df, "vec_id", "embedding", 8, iters=3)
    assert list(refined.ids) == list(again.ids)
    assert (refined.vecs == again.vecs).all()


def test_embedding_near_dup(vectors):
    from data_profiler_spark.operators.similarity import embedding_near_dup_pairs

    df, _ = vectors
    pairs = embedding_near_dup_pairs(df, threshold=0.999).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_multimodal_image_features(spark):
    from data_profiler_spark.operators.multimodal import (
        extract_image_features,
        sample_video_frames,
        synthetic_media,
    )

    media = synthetic_media(spark, n=30, seed=42)
    feats = extract_image_features(media).collect()
    assert len(feats) == media.where("media_type = 'image'").count() > 0
    f0 = {r["media_id"]: r for r in feats}
    # deterministic: rerun produces identical features
    f1 = {r["media_id"]: r for r in extract_image_features(media).collect()}
    assert all(tuple(f0[k]) == tuple(f1[k]) for k in f0)
    assert all(r["width"] >= 64 and r["content_sha"] for r in feats)

    frames = sample_video_frames(media, n_frames=3).collect()
    vids = media.where("media_type = 'video'").count()
    assert len(frames) == 3 * vids
    assert len({(r["media_id"], r["frame_index"]) for r in frames}) == len(frames)


def test_streaming_profile(spark, tmp_path):
    from data_profiler_spark.streaming.profile_stream import streaming_profile

    src = str(tmp_path / "stream_src")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = streaming_profile(
        stream, time_col="ts", columns=["event_type", "value"], window="1 day"
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_profile_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM stream_profile_out").collect()
    finally:
        q.stop()
    assert len(rows) > 0
    total = sum(r["row_count"] for r in rows)
    assert total == spark.read.parquet(src).count()
    assert all(r["value__mean"] is not None for r in rows)


def test_streaming_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: in-batch gap closure AND
    event-time-timeout closure across micro-batches."""
    import datetime as dt

    from data_profiler_spark.streaming.profile_stream import streaming_sessionize

    src = str(tmp_path / "sess_src")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def write_batch(rows, name):
        spark.createDataFrame(rows, "user_id string, ts timestamp").write.mode(
            "append"
        ).parquet(src)

    # batch 1: user a has TWO sessions split by a >30min in-batch gap;
    # user b has one open session
    write_batch(
        [
            ("a", t0),
            ("a", t0 + dt.timedelta(minutes=5)),
            ("a", t0 + dt.timedelta(minutes=90)),  # gap 85min -> new session
            ("b", t0 + dt.timedelta(minutes=10)),
        ],
        "b1",
    )
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    sess = streaming_sessionize(
        stream, "user_id", "ts", gap="30 minutes", watermark="10 minutes"
    )
    q = (
        sess.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.sql("SELECT * FROM sessions_out").collect()
        # a's first session closes by the in-batch gap; b's closes by
        # timeout in the follow-up trigger (batch-1 watermark t0+80min is
        # already past b's last_ts + gap). a's second stays open.
        assert {(r["user_id"], r["n_events"]) for r in first} == {("a", 2), ("b", 1)}
        # batch 2: much later event advances the watermark past
        # last_ts + gap for a's 2nd session and b's session -> timeouts fire
        write_batch([("c", t0 + dt.timedelta(hours=6))], "b2")
        q.processAllAvailable()
        # one more batch so timeouts scheduled at watermark W fire
        write_batch([("c", t0 + dt.timedelta(hours=7))], "b3")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM sessions_out").collect()
    finally:
        q.stop()
    got = {(r["user_id"], r["n_events"]) for r in rows}
    assert ("a", 2) in got      # in-batch gap closure
    assert ("a", 1) in got      # timeout closure of a's second session
    assert ("b", 1) in got      # timeout closure of b's session
    a2 = [r for r in rows if r["user_id"] == "a" and r["n_events"] == 2][0]
    assert a2["session_start"] == t0
    assert a2["session_end"] == t0 + dt.timedelta(minutes=5)


def test_autoprofile_suite(typed_small):
    from data_profiler_spark.operators.autoprofile import build_suite_from_profile
    from data_profiler_spark.operators.profile import profile
    from data_profiler_spark.validator import Validator

    (tp,) = profile(
        typed_small,
        columns=["ints", "floats", "cat"],
        categorical_columns=["cat"],
        approx_distinct=False,
    )
    suite = build_suite_from_profile(tp)
    types = {c.type for c in suite.constraints}
    assert "expect_column_values_to_not_be_null" in types
    assert "expect_column_distinct_values_to_be_in_set" in types
    assert "expect_column_mean_to_be_between" in types
    # the auto suite must PASS on the data it was built from
    res = Validator(typed_small).validate(suite)
    failed = [r for r in res.results if not r.success]
    assert failed == [], [(r.constraint_type, r.kwargs, r.observed_value) for r in failed]


def test_autoprofile_option_surface(typed_small):
    """UserConfigurableProfiler option parity (VERDICT r2 #7; ref
    user_configurable_profiler.py:56-147, 688-924, 1104-1133)."""
    from data_profiler_spark.operators.autoprofile import build_suite_from_profile
    from data_profiler_spark.operators.profile import profile
    from data_profiler_spark.validator import Validator

    (tp,) = profile(
        typed_small,
        columns=["ints", "floats", "cat"],
        categorical_columns=["cat"],
        approx_distinct=False,
    )

    # table_expectations_only -> exactly the two table-level expectations
    t_only = build_suite_from_profile(tp, table_expectations_only=True)
    assert sorted(c.type for c in t_only.constraints) == [
        "expect_table_columns_to_match_set",
        "expect_table_row_count_to_equal",
    ]
    assert Validator(typed_small).validate(t_only).success

    # primary_or_compound_key: compound -> compound uniqueness, no per-column
    key_suite = build_suite_from_profile(
        tp, primary_or_compound_key=["ints", "cat"]
    )
    types = [c.type for c in key_suite.constraints]
    assert "expect_compound_columns_to_be_unique" in types
    single = build_suite_from_profile(tp, primary_or_compound_key=["cat"])
    assert "expect_column_values_to_be_unique" in [
        c.type for c in single.constraints
    ]

    # semantic_types_dict: VALUE_SET -> row-level in_set pinned to domain;
    # NUMERIC bounds only for declared numeric columns
    sem = build_suite_from_profile(
        tp,
        semantic_types_dict={"numeric": ["ints"], "value_set": ["cat"]},
    )
    by_type: dict[str, list] = {}
    for c in sem.constraints:
        by_type.setdefault(c.type, []).append(c.kwargs)
    in_set = by_type["expect_column_values_to_be_in_set"]
    assert in_set and in_set[0]["column"] == "cat"
    assert sorted(in_set[0]["value_set"]) == ["a", "b", "c"]
    numeric_cols = {k["column"] for k in by_type.get("expect_column_mean_to_be_between", [])}
    assert numeric_cols == {"ints"}
    res = Validator(typed_small).validate(sem)
    assert [r for r in res.results if not r.success] == []

    # invalid semantic type / threshold raise
    with pytest.raises(ValueError):
        build_suite_from_profile(tp, semantic_types_dict={"nope": ["cat"]})
    with pytest.raises(ValueError):
        build_suite_from_profile(tp, value_set_threshold="sometimes")

    # excluded_expectations filters; not_null_only never emits be_null
    excl = build_suite_from_profile(
        tp, excluded_expectations=["expect_column_mean_to_be_between"]
    )
    assert "expect_column_mean_to_be_between" not in {c.type for c in excl.constraints}
    nn = build_suite_from_profile(tp, not_null_only=True)
    assert "expect_column_values_to_be_null" not in {c.type for c in nn.constraints}


def test_splitters_samplers(spark):
    from data_profiler_spark.sources import splitters as S

    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    assert S.split_on_mod_integer(df, "id", 10, 3).count() == 100
    parts = [S.split_on_hashed_column(df, "id", 4, v).count() for v in range(4)]
    assert sum(parts) == 1000 and all(p > 0 for p in parts)
    assert S.sample_using_a_list(df, "k", [0, 1]).count() == df.where("k in (0,1)").count()
    s = S.sample_using_hash(df, "id", buckets=5, value=2)
    assert 0 < s.count() < 1000
    # deterministic
    assert s.count() == S.sample_using_hash(df, "id", buckets=5, value=2).count()


def test_stratified_hash_sampler(spark):
    """Per-stratum rates land near the requested fractions, fraction 1.0
    keeps everything, 0.0 drops everything, and the survivor SET (not just
    the count) is identical run-to-run."""
    from data_profiler_spark.sources import splitters as S

    df = spark.range(4000).withColumn(
        "g", F.when(F.col("id") % 2 == 0, "a").otherwise("b")
    )
    kept = S.sample_stratified_by_hash(
        df, "g", "id", fractions={"a": 0.5, "b": 1.0}
    )
    by_g = {r["g"]: r["n"] for r in kept.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert by_g["b"] == 2000  # fraction 1.0 keeps the whole stratum
    assert 800 < by_g["a"] < 1200  # ~50% of 2000, md5-uniform
    none = S.sample_stratified_by_hash(df, "g", "id", fractions={"a": 0.0, "b": 0.0})
    assert none.count() == 0
    ids1 = sorted(r["id"] for r in kept.select("id").collect())
    ids2 = sorted(
        r["id"]
        for r in S.sample_stratified_by_hash(
            df, "g", "id", fractions={"a": 0.5, "b": 1.0}
        ).select("id").collect()
    )
    assert ids1 == ids2


def test_embedding_near_dups_no_cross_join(spark):
    """VERDICT r1 #3: the near-dup plan must be bucket-joined, never an
    all-pairs cartesian."""
    import numpy as np

    from data_profiler_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    # plant a genuine near-dup pair
    rows.append((100, [x * 1.01 for x in rows[0][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dup_pairs(df, "vec_id", "embedding", threshold=0.95,
                                   n_centroids=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # no all-pairs cartesian; pair scoring happens inside a per-bucket
    # Arrow-batched applyInPandas (numpy GEMM), grouped on centroid_id
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan, plan
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 100) in pairs


def test_near_dup_adaptive_centroids_and_exactness(spark):
    """VERDICT r2 #2: C grows with N (bucket-size-targeted), and the GEMM
    scoring is exact within buckets — every within-bucket pair >= threshold
    is reported with the brute-force cosine value."""
    import numpy as np

    from data_profiler_spark.operators.similarity import (
        adaptive_n_centroids,
        embedding_near_dup_pairs,
    )

    assert adaptive_n_centroids(500, 500) == 8          # floor
    assert adaptive_n_centroids(10_000, 500) == 20      # grows with N
    assert adaptive_n_centroids(1_000_000, 500) == 2000

    rng = np.random.default_rng(11)
    base = rng.normal(size=(30, 6))
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    # planted dups: tiny perturbations of vectors 3 and 17
    rows.append((200, [x * 1.002 for x in rows[3][1]]))
    rows.append((201, [x * 0.998 for x in rows[17][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = embedding_near_dup_pairs(
        df, threshold=0.999, n_centroids=4
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert {(3, 200), (17, 201)} <= pairs
    # sims match brute-force numpy cosine after round-6
    vecs = {r[0]: np.asarray(r[1]) for r in rows}
    for r in got:
        a, b = vecs[r["id_a"]], vecs[r["id_b"]]
        want = round(
            float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6
        )
        assert r["sim"] == pytest.approx(want, abs=1e-9)


def test_kmeans_refined_collects_once_per_iteration(spark, monkeypatch):
    """A refined build collects the seed rows once and the per-dimension
    means once per Lloyd iteration — no dim probe, no other job that
    brings rows to the driver — and moves the centroids off the seeds."""
    import numpy as np
    from data_profiler_spark.operators.similarity import (
        kmeans_like_centroids,
        kmeans_refined_centroids,
    )

    rng = np.random.default_rng(17)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seed = kmeans_like_centroids(df, "vec_id", "embedding", 8)

    # patch the CONCRETE class (pyspark.sql.classic overrides collect)
    DataFrame = type(df)
    calls = {"n": 0}
    orig_collect = DataFrame.collect

    def counting_collect(self):
        calls["n"] += 1
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    refined = kmeans_refined_centroids(df, "vec_id", "embedding", 8, iters=3)
    assert calls["n"] == 1 + 3, f"unexpected driver collects: {calls['n']}"
    assert list(refined.ids) == list(range(8))
    assert refined.vecs.shape == (8, 8)
    assert not np.allclose(refined.vecs, seed.vecs)


def test_autoprofile_numeric_pinned_stats(typed_small):
    """VERDICT r3 #9: the reference pins median / stdev / quantile values
    at [.05,.25,.5,.75,.95] for numeric columns
    (basic_dataset_profiler.py:180-207) — the auto suite must emit all
    three from the existing profile sketch and pass self-validation."""
    from data_profiler_spark.operators.autoprofile import build_suite_from_profile
    from data_profiler_spark.operators.profile import profile
    from data_profiler_spark.validator import Validator

    (tp,) = profile(
        typed_small, columns=["ints", "floats"], approx_distinct=False
    )
    suite = build_suite_from_profile(tp)
    by_type: dict[str, list] = {}
    for c in suite.constraints:
        by_type.setdefault(c.type, []).append(c.kwargs)
    for t in [
        "expect_column_min_to_be_between",
        "expect_column_max_to_be_between",
        "expect_column_mean_to_be_between",
        "expect_column_stdev_to_be_between",
        "expect_column_median_to_be_between",
        "expect_column_quantile_values_to_be_between",
    ]:
        assert {k["column"] for k in by_type[t]} == {"ints", "floats"}, t
    qr = by_type["expect_column_quantile_values_to_be_between"][0][
        "quantile_ranges"
    ]
    assert qr["quantiles"] == [0.05, 0.25, 0.5, 0.75, 0.95]
    assert len(qr["value_ranges"]) == 5
    assert all(lo <= hi for lo, hi in qr["value_ranges"])
    res = Validator(typed_small).validate(suite)
    failed = [r for r in res.results if not r.success]
    assert failed == [], [(r.constraint_type, r.kwargs) for r in failed]


# ===========================================================================
# BasicDatasetProfiler shape parity (VERDICT r4 #9;
# ref basic_dataset_profiler.py:129-330)
# ===========================================================================

# Independent transcription of the reference's per-(type, cardinality)
# expectation table. _COMMON prefixes every column class (:156-160).
_COMMON = [
    "expect_column_values_to_not_be_null",
    "expect_column_values_to_be_in_set",
]
_DESCRIBE = [
    "expect_column_min_to_be_between",
    "expect_column_max_to_be_between",
    "expect_column_mean_to_be_between",
    "expect_column_median_to_be_between",
]
_REF_BASIC_TABLE = {
    # INT (:161-213)
    ("INT", "UNIQUE"): ["expect_column_values_to_be_unique"],
    ("INT", "ONE"): ["expect_column_distinct_values_to_be_in_set"],
    ("INT", "TWO"): ["expect_column_distinct_values_to_be_in_set"],
    ("INT", "VERY_FEW"): ["expect_column_distinct_values_to_be_in_set"],
    ("INT", "FEW"): ["expect_column_distinct_values_to_be_in_set"],
    ("INT", "MANY"): _DESCRIBE + [
        "expect_column_stdev_to_be_between",
        "expect_column_quantile_values_to_be_between",
        "expect_column_kl_divergence_to_be_less_than",
    ],
    ("INT", "VERY_MANY"): _DESCRIBE + [
        "expect_column_stdev_to_be_between",
        "expect_column_quantile_values_to_be_between",
        "expect_column_kl_divergence_to_be_less_than",
    ],
    ("INT", "NONE"): [],
    # FLOAT (:215-249) — no stdev
    ("FLOAT", "UNIQUE"): ["expect_column_values_to_be_unique"],
    ("FLOAT", "VERY_FEW"): ["expect_column_distinct_values_to_be_in_set"],
    ("FLOAT", "FEW"): ["expect_column_distinct_values_to_be_in_set"],
    ("FLOAT", "MANY"): _DESCRIBE + [
        "expect_column_quantile_values_to_be_between",
        "expect_column_kl_divergence_to_be_less_than",
    ],
    ("FLOAT", "VERY_MANY"): _DESCRIBE + [
        "expect_column_quantile_values_to_be_between",
        "expect_column_kl_divergence_to_be_less_than",
    ],
    ("FLOAT", "NONE"): [],
    # STRING (:251-270) — whitespace regex always, no numeric describe
    ("STRING", "UNIQUE"): [
        "expect_column_values_to_not_match_regex",
        "expect_column_values_to_be_unique",
    ],
    ("STRING", "VERY_FEW"): [
        "expect_column_values_to_not_match_regex",
        "expect_column_distinct_values_to_be_in_set",
    ],
    ("STRING", "MANY"): ["expect_column_values_to_not_match_regex"],
    ("STRING", "VERY_MANY"): ["expect_column_values_to_not_match_regex"],
    # DATETIME (:272-305) — min/max always, NO unique even at UNIQUE
    ("DATETIME", "UNIQUE"): _DESCRIBE[:2],
    ("DATETIME", "VERY_FEW"): _DESCRIBE[:2] + [
        "expect_column_distinct_values_to_be_in_set"
    ],
    ("DATETIME", "MANY"): _DESCRIBE[:2],
    # BOOLEAN / UNKNOWN (:307-330)
    ("BOOLEAN", "TWO"): ["expect_column_distinct_values_to_be_in_set"],
    ("BOOLEAN", "UNIQUE"): ["expect_column_values_to_be_unique"],
    ("UNKNOWN", "MANY"): [],
    ("UNKNOWN", "FEW"): ["expect_column_distinct_values_to_be_in_set"],
}


@pytest.mark.parametrize("ptype,card", sorted(_REF_BASIC_TABLE))
def test_basic_shape_matches_reference_table(ptype, card):
    from data_profiler_spark.operators.autoprofile import basic_expectation_shape

    assert basic_expectation_shape(ptype, card) == _COMMON + _REF_BASIC_TABLE[
        (ptype, card)
    ]


def test_basic_shape_rejects_unknown_class():
    from data_profiler_spark.operators.autoprofile import basic_expectation_shape

    with pytest.raises(ValueError):
        basic_expectation_shape("DOUBLE", "MANY")
    with pytest.raises(ValueError):
        basic_expectation_shape("INT", "SOME")


def test_basic_suite_end_to_end(spark):
    """build_basic_suite_from_profile over a mixed-type frame: per-column
    expectation lists match the reference table for the classified
    (type, cardinality), and the observe-only suite validates green."""
    import datetime as dt

    import pyspark.sql.types as T

    from data_profiler_spark.operators.autoprofile import (
        basic_expectation_shape,
        build_basic_suite_from_profile,
        classify_cardinality,
        classify_profiler_type,
    )
    from data_profiler_spark.operators.profile import profile
    from data_profiler_spark.validator import Validator

    n = 120
    rows = [
        (
            i,                                    # id: INT UNIQUE
            i % 3,                                # int_few: INT VERY_FEW
            float(i) + 0.5,                       # flt: FLOAT UNIQUE-ish
            f"s{i % 4}",                          # cat: STRING VERY_FEW
            dt.datetime(2024, 1, 1) + dt.timedelta(hours=i),  # ts: DATETIME
            i % 2 == 0,                           # flag: BOOLEAN TWO
        )
        for i in range(n)
    ]
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("int_few", T.IntegerType()),
            T.StructField("flt", T.DoubleType()),
            T.StructField("cat", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("flag", T.BooleanType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    (tp,) = profile(df, approx_distinct=False, categorical_columns=["cat"])

    suite = build_basic_suite_from_profile(tp)
    types = [c.type for c in suite.constraints]
    # table-level pair first (ref :134-135)
    assert types[:2] == [
        "expect_table_row_count_to_be_between",
        "expect_table_columns_to_match_ordered_list",
    ]
    # per-column lists match the reference table for the classified class
    by_col: dict[str, list[str]] = {}
    for c in suite.constraints[2:]:
        by_col.setdefault(c.kwargs["column"], []).append(c.type)
    for colname, cp in tp.columns.items():
        expected = basic_expectation_shape(
            classify_profiler_type(cp.spark_type), classify_cardinality(cp)
        )
        # KL may be dropped when the profile has no sketch for the column
        got = by_col.get(colname, [])
        assert got == expected or got == [
            t for t in expected
            if t != "expect_column_kl_divergence_to_be_less_than"
        ], colname
    assert classify_profiler_type(tp.columns["id"].spark_type) == "INT"
    assert classify_cardinality(tp.columns["id"]) == "UNIQUE"
    assert classify_profiler_type(tp.columns["ts"].spark_type) == "DATETIME"
    assert classify_profiler_type(tp.columns["flag"].spark_type) == "BOOLEAN"
    assert classify_cardinality(tp.columns["flag"]) == "TWO"

    # observe-only semantics: the whole suite is green on its own data
    res = Validator(df).validate(suite)
    failed = [r for r in res.results if not r.success]
    assert failed == [], [(r.constraint_type, r.kwargs) for r in failed]


def test_streaming_drift(spark, tmp_path):
    """Windowed two-sample chi-square vs a baseline: the statistic matches
    the batch chi2_contingency per window, and a deliberately skewed
    baseline flips drift_detected."""
    from data_profiler_spark.functions import stats
    from data_profiler_spark.streaming.profile_stream import streaming_drift

    src = str(tmp_path / "drift_src")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(src)
    batch = spark.read.parquet(src)
    types = sorted(
        r["event_type"]
        for r in batch.select("event_type").distinct().collect()
        if r["event_type"] is not None
    )
    k = len(types)
    matched = {"values": types, "weights": [1.0 / k] * k, "n": 10_000}

    # batch equivalence: the same Column pipeline runs on a static frame
    out = {
        r["window_start"]: r
        for r in streaming_drift(
            batch, "ts", "event_type", matched, window="1 day"
        ).collect()
    }
    counts = {
        (r["d"], r["event_type"]): r["n"]
        for r in batch.groupBy(
            F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d"),
            "event_type",
        ).agg(F.count("*").alias("n")).collect()
    }
    for ws, row in out.items():
        # the engine's tail column counts NON-NULL unlisted values only
        # (isNotNull & ~listed); `types` covers every non-null value here,
        # so the expected tail is exactly 0 — NULL rows are outside the
        # domain in both the streaming and batch paths
        obs = [counts.get((ws, t), 0) for t in types] + [0]
        base = [w * matched["n"] for w in matched["weights"]] + [0.0]
        stat, _, dof = stats.chi2_contingency([obs, base])
        assert abs(row["chi2_stat"] - stat) < 1e-6
        assert dof == k

    # streaming smoke + verdict flip on a skewed baseline
    schema = batch.schema
    stream = spark.readStream.schema(schema).parquet(src)
    skewed = {
        "values": types,
        "weights": [0.97] + [0.03 / (k - 1)] * (k - 1),
        "n": 10_000,
    }
    agg = streaming_drift(stream, "ts", "event_type", skewed, window="1 day")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_drift_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM stream_drift_out").collect()
    finally:
        q.stop()
    assert len(rows) > 0
    assert all(r["drift_detected"] for r in rows)  # uniform data vs 97% skew


def test_streaming_drift_ks(spark, tmp_path):
    """Continuous drift: per-window KS statistic matches
    stats.ks_2samp_from_hist on the same histogram, and the verdict
    equals the batch p <= alpha decision (Stephens-corrected)."""
    from data_profiler_spark.functions import stats
    from data_profiler_spark.streaming.profile_stream import streaming_drift_ks

    src = str(tmp_path / "driftks_src")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(src)
    batch = spark.read.parquet(src)
    bins = [0.0, 25.0, 50.0, 75.0, 100.0]
    # baseline deliberately bottom-heavy vs the roughly uniform data
    baseline = {"bins": bins, "weights": [0.7, 0.1, 0.1, 0.1], "n": 5000}

    out = streaming_drift_ks(
        batch, "ts", "value", baseline, window="1 day", alpha=0.05
    ).collect()
    assert len(out) > 0
    vals_by_day: dict = {}
    for r in batch.select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d"), "value"
    ).collect():
        vals_by_day.setdefault(r["d"], []).append(r["value"])
    for row in out:
        vals = [v for v in vals_by_day[row["window_start"]] if v is not None]
        counts = [sum(1 for v in vals if v < bins[0])]
        for i in range(len(bins) - 1):
            if i == len(bins) - 2:
                counts.append(sum(1 for v in vals if bins[i] <= v <= bins[i + 1]))
            else:
                counts.append(sum(1 for v in vals if bins[i] <= v < bins[i + 1]))
        counts.append(sum(1 for v in vals if v > bins[-1]))
        w2 = [0.0] + [w * baseline["n"] for w in baseline["weights"]] + [0.0]
        d, p = stats.ks_2samp_from_hist(counts, w2, len(vals), baseline["n"])
        assert row["n"] == len(vals)
        assert abs(row["ks_stat"] - d) < 1e-9
        assert row["drift_detected"] == (p <= 0.05)

    # one big window has the power the tiny daily ones may lack:
    # roughly-uniform data vs a 70%-bottom-bin baseline must drift
    big = streaming_drift_ks(
        batch, "ts", "value", baseline, window="30 days", alpha=0.05
    ).collect()
    assert any(r["drift_detected"] for r in big)

    # matched baseline -> no drift
    import numpy as np

    allv = [v for vs in vals_by_day.values() for v in vs if v is not None]
    hist, _ = np.histogram(allv, bins=bins)
    matched = {
        "bins": bins,
        "weights": [float(h) / len(allv) for h in hist],
        "n": 100_000,
    }
    out2 = streaming_drift_ks(
        batch, "ts", "value", matched, window="7 days", alpha=0.001
    ).collect()
    assert any(not r["drift_detected"] for r in out2)

    # streaming smoke
    stream = spark.readStream.schema(batch.schema).parquet(src)
    agg = streaming_drift_ks(stream, "ts", "value", baseline, window="1 day")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_driftks_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM stream_driftks_out").collect()
    finally:
        q.stop()
    assert len(rows) == len(out)


def test_streaming_dedup_exact(spark, tmp_path):
    """One survivor per content digest; in-batch and cross-batch
    duplicates within the watermark are dropped (in-batch survivor is an
    arbitrary representative — Spark defines no intra-batch order)."""
    import datetime as dt

    from data_profiler_spark.streaming.profile_stream import streaming_dedup_exact

    src = str(tmp_path / "dedup_src")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def write(rows):
        spark.createDataFrame(
            rows, "doc_id long, ts timestamp, text string"
        ).write.mode("append").parquet(src)

    write([
        (1, t0, "alpha content"),
        (2, t0 + dt.timedelta(minutes=1), "alpha content"),   # in-batch dup
        (3, t0 + dt.timedelta(minutes=2), "beta content"),
    ])
    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string"
    ).parquet(src)
    out = streaming_dedup_exact(stream, "ts", "text", watermark="2 hours")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        write([
            (4, t0 + dt.timedelta(minutes=3), "beta content"),   # cross-batch dup
            (5, t0 + dt.timedelta(minutes=4), "gamma content"),
        ])
        q.processAllAvailable()
        rows = spark.sql("SELECT doc_id FROM stream_dedup_out").collect()
    finally:
        q.stop()
    kept = sorted(r["doc_id"] for r in rows)
    assert len(kept) == 3
    assert kept[0] in (1, 2)      # one alpha survivor (in-batch pick)
    assert kept[1] == 3           # beta's first batch wins...
    assert 4 not in kept          # ...its cross-batch dup is dropped
    assert kept[2] == 5


def test_streaming_near_dup_candidates(spark, tmp_path):
    """Identical docs collide in every band; the later arrival emits a
    candidate pair against the earlier anchor, in-batch and cross-batch;
    unrelated docs emit nothing."""
    import datetime as dt

    from data_profiler_spark.streaming.profile_stream import (
        streaming_near_dup_candidates,
    )

    src = str(tmp_path / "nd_src")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    shared = "the quick brown fox jumps over the lazy dog again and again"

    def write(rows):
        spark.createDataFrame(
            rows, "doc_id long, ts timestamp, text string"
        ).write.mode("append").parquet(src)

    write([
        (1, t0, shared),
        (2, t0 + dt.timedelta(minutes=1), shared),            # in-batch dup
        (3, t0 + dt.timedelta(minutes=2), "totally unrelated content here xyz"),
    ])
    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string"
    ).parquet(src)
    out = streaming_near_dup_candidates(
        stream, "ts", "doc_id", "text", watermark="2 hours"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_nd_out")
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        write([(4, t0 + dt.timedelta(minutes=3), shared)])     # cross-batch dup
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM stream_nd_out").collect()
    finally:
        q.stop()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    assert pairs == {(1, 2), (1, 4)}  # anchor 1; doc 3 never collides
    # identical docs collide in EVERY band (4 bands at 8 hashes / size 2)
    from collections import Counter
    per_pair = Counter((r["id_a"], r["id_b"]) for r in rows)
    assert per_pair[(1, 2)] == 4 and per_pair[(1, 4)] == 4


def test_kmeans_centroids_are_lowest_id_rows(spark):
    """The deterministic centroid pick is the C lowest-id vectors, in id
    order, as centroid ids 0..C-1 and float64 values; an empty corpus
    gives no centroids and no crash."""
    from data_profiler_spark.operators.similarity import kmeans_like_centroids

    rows = [(i, [float(i + j) for j in range(64)]) for i in range(40)]
    rows.reverse()  # input order must not matter
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = kmeans_like_centroids(df, "vec_id", "embedding", 8)
    assert list(cents.ids) == list(range(8))
    assert cents.vecs.dtype.name == "float64"
    assert cents.vecs.tolist() == [
        [float(i + j) for j in range(64)] for i in range(8)
    ]

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert len(kmeans_like_centroids(empty, "vec_id", "embedding", 4).ids) == 0


def test_parse_duration_units(spark):
    """VERDICT r5 wrong #2: week/millisecond are valid Spark watermark
    units; unknown units raise a clear ValueError, not a KeyError."""
    import pytest

    from data_profiler_spark.streaming.profile_stream import _parse_duration_sec

    assert _parse_duration_sec("1 week") == 604800.0
    assert _parse_duration_sec("500 milliseconds") == 0.5
    assert _parse_duration_sec("2 hours") == 7200.0
    assert _parse_duration_sec("90 seconds") == 90.0
    with pytest.raises(ValueError, match="2 fortnights"):
        _parse_duration_sec("2 fortnights")
    with pytest.raises(ValueError, match="expected"):
        _parse_duration_sec("soon")


def test_streaming_drift_unnormalized_baseline(spark, tmp_path):
    """ADVICE r5: a baseline whose weights do NOT sum to 1 (unnormalized /
    truncated) must still produce the table-derived chi2_contingency
    statistic — the baseline row total is n * sum(weights), not n."""
    from data_profiler_spark.functions import stats
    from data_profiler_spark.streaming.profile_stream import streaming_drift

    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    types = sorted(
        r["event_type"]
        for r in batch.select("event_type").distinct().collect()
        if r["event_type"] is not None
    )
    k = len(types)
    # weights sum to 2.0 deliberately
    baseline = {"values": types, "weights": [2.0 / k] * k, "n": 5000}
    out = {
        r["window_start"]: r
        for r in streaming_drift(
            batch, "ts", "event_type", baseline, window="1 day"
        ).collect()
    }
    counts = {
        (r["d"], r["event_type"]): r["n"]
        for r in batch.groupBy(
            F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d"),
            "event_type",
        ).agg(F.count("*").alias("n")).collect()
    }
    assert out
    for ws, row in out.items():
        obs = [counts.get((ws, t), 0) for t in types] + [0]
        base = [w * baseline["n"] for w in baseline["weights"]] + [0.0]
        stat, _, _ = stats.chi2_contingency([obs, base])
        assert abs(row["chi2_stat"] - stat) < 1e-6

    import pytest

    with pytest.raises(ValueError, match="positive sum"):
        streaming_drift(
            batch, "ts", "event_type",
            {"values": types, "weights": [0.0] * k, "n": 5000},
        )


def test_streaming_drift_parity_with_batch_property(spark):
    """VERDICT r5 #9 (stretch): the closed-form streaming chi2/KS verdicts
    equal the batch c_drift verdicts on identical window data — the
    bit-identical claim in the docstrings, property-tested across seeded
    random datasets/baselines instead of spot-tested."""
    import datetime

    import numpy as np

    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.functions import stats
    from data_profiler_spark.streaming.profile_stream import (
        streaming_drift,
        streaming_drift_ks,
    )
    from data_profiler_spark.validator import Validator

    day = datetime.datetime(2024, 3, 1)
    alpha = 0.05

    for seed in range(10):
        rng = np.random.default_rng(seed)

        # --- categorical / chi-square -----------------------------------
        k = int(rng.integers(2, 6))
        values = [f"v{i}" for i in range(k)]
        # random window data: listed values + occasional unlisted + NULLs
        draws = rng.choice(values + ["other"], size=200,
                           p=np.r_[rng.dirichlet(np.ones(k)) * 0.9, [0.1]])
        rows = [
            (day + datetime.timedelta(seconds=int(i)),
             None if rng.random() < 0.05 else str(v))
            for i, v in enumerate(draws)
        ]
        df = spark.createDataFrame(rows, "ts timestamp, cat string")
        w = rng.dirichlet(np.ones(k))
        baseline = {"values": values, "weights": [float(x) for x in w],
                    "n": int(rng.integers(100, 5000))}

        suite = ConstraintSuite("drift").add(
            "expect_column_distribution_to_match_baseline",
            column="cat", baseline=baseline, p=alpha,
        )
        batch_res = Validator(df).validate(suite).results[0]
        (srow,) = streaming_drift(
            df, "ts", "cat", baseline, window="1 day", alpha=alpha
        ).collect()
        assert srow["drift_detected"] == (not batch_res.success), (
            f"chi2 verdict mismatch seed={seed}"
        )
        # same statistic the batch path feeds chi2_contingency
        assert abs(srow["chi2_stat"] - batch_res.details["chi2"]) < 1e-9

        # --- continuous / KS --------------------------------------------
        edges = sorted(set(np.round(rng.uniform(0, 100, size=5), 2)))
        while len(edges) < 3:
            edges.append(edges[-1] + 10.0)
        bw = rng.dirichlet(np.ones(len(edges) - 1))
        kbase = {"bins": [float(e) for e in edges],
                 "weights": [float(x) for x in bw],
                 "n": int(rng.integers(100, 5000))}
        xs = rng.uniform(min(edges) - 5, max(edges) + 5, size=200)
        krows = [
            (day + datetime.timedelta(seconds=int(i)),
             None if rng.random() < 0.05 else float(x))
            for i, x in enumerate(xs)
        ]
        kdf = spark.createDataFrame(krows, "ts timestamp, x double")
        ksuite = ConstraintSuite("kdrift").add(
            "expect_column_distribution_to_match_baseline",
            column="x", baseline=kbase, p=alpha,
        )
        kbatch = Validator(kdf).validate(ksuite).results[0]
        (krow,) = streaming_drift_ks(
            kdf, "ts", "x", kbase, window="1 day", alpha=alpha
        ).collect()
        assert krow["drift_detected"] == (not kbatch.success), (
            f"ks verdict mismatch seed={seed}"
        )
        assert abs(krow["ks_stat"] - kbatch.details["ks_d"]) < 1e-9, (
            f"ks D mismatch seed={seed}"
        )


def test_pq_encode_numpy_matches_expr(vectors):
    """The numpy encode must reproduce the pure-Column encode bit-for-bit
    — same left-fold accumulation order, pow(d,2) == d*d, first-min
    argmin tie-break."""
    from data_profiler_spark.operators.similarity import (
        _pq_encode_expr,
        kmeans_like_centroids,
        pq_encode,
    )

    df, _ = vectors
    cents = kmeans_like_centroids(df, "vec_id", "embedding", 4)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(df, cents, "vec_id", "embedding", m=4).frame.collect()
    }
    ref = {
        r["vec_id"]: list(r["codes"])
        for r in _pq_encode_expr(df, cents, "vec_id", "embedding", 4).collect()
    }
    assert got == ref and len(got) == 40


def test_ivf_assign_numpy_matches_column_path(spark, vectors):
    """The numpy assign must pick the centroid a plain ascending-index
    fold picks — the arithmetic of the Column fold it replaced and of the
    oracle: dot(v, c) folded from 0.0, divided by sqrt of the folded
    c*c, FIRST max (lowest centroid_id) on ties. Vector 40 scores an
    exact tie between centroids 1 and 2 (dot/|c| = 7/5 for both)."""
    import math

    from data_profiler_spark.operators.similarity import (
        ivf_assign,
        kmeans_like_centroids,
    )

    df, _ = vectors
    rows = [(r["vec_id"], list(r["embedding"])) for r in df.collect()]
    rows[1] = (1, [3.0, 4.0] + [0.0] * 6)
    rows[2] = (2, [4.0, 3.0] + [0.0] * 6)
    rows.append((40, [1.0, 1.0] + [0.0] * 6))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_like_centroids(df, "vec_id", "embedding", 6)

    def fold_assign(v):
        best, best_sim = None, None
        for cid, c in zip(cents.ids, cents.vecs.tolist()):
            d = 0.0
            for x, y in zip(v, c):
                d += x * y
            n = 0.0
            for y in c:
                n += y * y
            sim = d / math.sqrt(n)
            if best_sim is None or sim > best_sim:
                best, best_sim = int(cid), sim
        return best

    got = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(df, cents, "vec_id", "embedding").collect()
    }
    assert got == {vid: fold_assign(v) for vid, v in rows} and len(got) == 41
    assert got[40] == 1


def test_ivf_assign_rejects_bad_vectors_by_id(spark):
    """Null, ragged and NaN vectors and zero-norm centroids raise a
    ValueError naming the offending id instead of crashing a task
    opaquely or returning a plausible assignment; a zero-norm query does
    the same in ann_topk_ivf."""
    from data_profiler_spark.operators.similarity import (
        ann_topk_ivf,
        ivf_assign,
        kmeans_like_centroids,
    )

    base = [(i, [float(i + 1), 1.0, 0.0, 2.0]) for i in range(6)]

    def frame(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    good = frame(base)
    cents = kmeans_like_centroids(good, "vec_id", "embedding", 2)
    bad_rows = {
        "vec_id 9: vector is null": None,
        "vec_id 9: vector has length 3, expected 4": [1.0, 2.0, 3.0],
        "vec_id 9: vector contains NaN": [1.0, float("nan"), 0.0, 2.0],
    }
    for msg, vec in bad_rows.items():
        with pytest.raises(Exception, match=msg):
            ivf_assign(frame(base + [(9, vec)]), cents, "vec_id", "embedding").collect()

    zero = frame([(0, [0.0, 0.0, 0.0, 0.0])] + base[1:])
    zcents = kmeans_like_centroids(zero, "vec_id", "embedding", 2)
    with pytest.raises(ValueError, match="centroid 0: zero-norm"):
        ivf_assign(zero, zcents, "vec_id", "embedding")

    q = good.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="query 7: zero-norm"):
        ann_topk_ivf(good, q, centroids=cents,
                     query_rows=[(7, [0.0, 0.0, 0.0, 0.0])])


def test_ann_query_rows_paths_match_distributed(vectors):
    """Pre-collected ``query_rows`` must produce exactly the rows of the
    query frame collected by the operator, for bruteforce, IVF and PQ
    top-k."""
    from data_profiler_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivf,
        kmeans_like_centroids,
        pq_encode,
        pq_topk,
    )

    df, vecs = vectors
    q = df.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qrows = [(i, [float(x) for x in vecs[i]]) for i in range(3)]

    def rows(frame):
        return sorted(
            (r["query_id"], r["vec_id"], r["rank"], r[2]) for r in frame.collect()
        )

    assert rows(
        ann_topk_bruteforce(df, q, k=4, query_rows=qrows)
    ) == rows(ann_topk_bruteforce(df, q, k=4))

    cents = kmeans_like_centroids(df, "vec_id", "embedding", 6)
    ivf = rows(ann_topk_ivf(df, q, k=4, nprobe=2, centroids=cents, query_rows=qrows))
    assert ivf == rows(ann_topk_ivf(df, q, k=4, nprobe=2, centroids=cents))
    assert len(ivf) == 12

    qv = df.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    enc = pq_encode(df, cents, "vec_id", "embedding", m=4)
    pq = rows(pq_topk(enc, qv, k_top=4, query_rows=qrows))
    assert pq == rows(pq_topk(enc, qv, k_top=4)) and len(pq) == 12


def test_ivfpq_fused_matches_seedwise_reference(vectors):
    """The fused assign+residual+encode pass must keep ivfpq's top-k
    identical to an independent numpy reference replaying the documented
    arithmetic (coarse dot/|c| argmax, residual, per-subspace argmin,
    ADC sums)."""
    import numpy as np

    from data_profiler_spark.operators.similarity import ivfpq_topk

    df, vecs = vectors
    qv = df.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in ivfpq_topk(
            df, qv, n_coarse=3, nprobe=2, m=4, n_codes=6, k_top=4,
            query_rows=[(i, [float(x) for x in vecs[i]]) for i in range(2)],
        ).collect()
    )
    v = vecs.astype("float64")
    C = v[:3]
    cn = np.sqrt((C * C).sum(axis=1))
    assign = np.argmax((v @ C.T) / cn, axis=1)
    R = v - C[assign]
    RCB = v[:6] - C[np.argmax((v[:6] @ C.T) / cn, axis=1)]
    sub = 2
    codes = np.empty((40, 4), dtype=int)
    for j in range(4):
        sl = slice(j * sub, (j + 1) * sub)
        d = R[:, None, sl] - RCB[None, :, sl]
        codes[:, j] = np.argmin((d * d).sum(axis=2), axis=1)
    exp = []
    for qi in range(2):
        sims = (v[qi] @ C.T) / cn
        probes = sorted(range(3), key=lambda ci: (-sims[ci], ci))[:2]
        cand = []
        for ci in probes:
            qres = v[qi] - C[ci]
            lut = np.empty((4, 6))
            for j in range(4):
                sl = slice(j * sub, (j + 1) * sub)
                dd = qres[None, sl] - RCB[:, sl]
                lut[j] = (dd * dd).sum(axis=1)
            for di in np.nonzero(assign == ci)[0]:
                adist = sum(lut[j, codes[di, j]] for j in range(4))
                cand.append((round(adist, 6), int(di)))
        cand.sort()
        exp.extend((qi, rank + 1, di) for rank, (_, di) in enumerate(cand[:4]))
    assert got == sorted(exp)
