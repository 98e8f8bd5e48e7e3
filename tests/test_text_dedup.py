"""Text analysis + dedup operators (python oracles on tiny data)."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog"),  # near dup
        (3, "der hund ist von der katze und das haus"),
        (4, "el perro y la casa de un gato en que"),
        (5, "completely different content about spark engines and parquet"),
        (6, ""),
        (7, "数据 验证 引擎"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_language_id(docs):
    from data_profiler_spark.operators.text import with_language_id

    out = {r["doc_id"]: r["lang_pred"] for r in with_language_id(docs, "text").collect()}
    assert out[0] == "en"
    assert out[3] == "de"
    assert out[4] == "es"
    assert out[7] == "zh"
    assert out[6] == "und"


def test_fingerprints(docs, spark):
    from data_profiler_spark.operators.text import normalized_fingerprint

    out = docs.select(
        "doc_id",
        normalized_fingerprint(F.col("text")).alias("fp"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # identical docs -> identical fingerprints
    assert by_id[0]["fp"] == by_id[1]["fp"]
    assert by_id[0]["fp"] != by_id[2]["fp"]
    # oracle: md5 of normalized text
    assert (
        by_id[0]["fp"]
        == hashlib.md5(b"the quick brown fox jumps over the lazy dog").hexdigest()
    )


def test_exact_dedup(docs):
    from data_profiler_spark.operators.dedup import exact_dup_groups

    groups = exact_dup_groups(docs, "doc_id", "text")
    dup = groups.where("n_docs > 1").collect()
    assert len(dup) == 1 and dup[0]["n_docs"] == 2 and dup[0]["keep_id"] == 0


def test_jaccard_pairs(docs):
    from data_profiler_spark.operators.dedup import jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(
            docs.where("doc_id < 6"), "doc_id", "text", shingle_n=1, threshold=0.5
        ).collect()
    }
    assert pairs[(0, 1)] == 1.0
    # docs 0/2: 8 distinct tokens each, 7 shared (jumps vs leaps) -> 7/9
    assert pairs[(0, 2)] == pytest.approx(round(7 / 9, 6))
    assert (0, 5) not in pairs


def test_jaccard_max_df_values_stay_exact(docs):
    """When max_df actively prunes the candidate index, the REPORTED jaccard
    of surviving pairs must still be true (full-set) jaccard — VERDICT r1 #6:
    the round-1 version computed sizes post-prune, silently reporting the
    jaccard of the pruned sets."""
    from data_profiler_spark.operators.dedup import jaccard_pairs

    base = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(
            docs.where("doc_id < 6"), "doc_id", "text", shingle_n=1, threshold=0.5
        ).collect()
    }
    # "the" appears in docs 0,1,2 (df=3): max_df=2 prunes it from the index.
    pruned = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(
            docs.where("doc_id < 6"), "doc_id", "text", shingle_n=1,
            threshold=0.5, max_df=2,
        ).collect()
    }
    # pairs found under pruning carry IDENTICAL (exact) jaccard values
    for pair, j in pruned.items():
        assert j == base[pair], pair
    # 0/1 share 'jumps' (df=2, survives) -> found, with TRUE jaccard 1.0 even
    # though 7 of their 8 shared tokens were pruned from the index
    assert pruned[(0, 1)] == 1.0
    # 0/2's shared tokens all have df=3 (doc 1 duplicates doc 0) -> candidate
    # legitimately missed under max_df=2: recall trade, never value distortion
    assert (0, 2) not in pruned and (0, 2) in base


def test_jaccard_prefix_filter_complete(spark):
    """Prefix filtering must have recall 1 vs brute force (no max_df)."""
    import itertools

    from data_profiler_spark.operators.dedup import jaccard_pairs

    rows = [
        (i, " ".join(f"t{j}" for j in range(i, i + 12)))
        for i in range(0, 20)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(df, "doc_id", "text", 1, threshold=0.3).collect()
    }
    # brute force in python
    sets = {i: set(t.split()) for i, t in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= 0.3:
            want[(a, b)] = round(j, 6)
    assert got == want


def test_simhash_empty_and_determinism(docs):
    from data_profiler_spark.operators.dedup import simhash
    from pyspark.sql import functions as F

    out = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", simhash(F.col("text"), 32).alias("s")).collect()
    }
    assert out[6] == 0  # empty text -> empty fold -> 0
    assert out[0] == out[1] != 0


def test_passage_dup_stats(spark):
    """Planted duplicated passage across two docs; short docs drop out."""
    from data_profiler_spark.operators.text import passage_dup_stats

    shared = " ".join(f"w{i}" for i in range(10))  # exactly one window
    rows = [
        (1, shared + " tail1 a b c d e"),
        (2, "head x y z q1 " + shared),  # 5-token prefix -> shared aligns to the stride grid (position 6)
        (3, " ".join(f"u{i}" for i in range(25))),  # unique passages
        (4, "too short"),  # < window -> no passages
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in passage_dup_stats(df, window=10, stride=5).collect()}
    assert 4 not in out
    assert out[1]["n_dup_passages"] >= 1
    assert out[2]["n_dup_passages"] >= 1
    assert out[3]["n_dup_passages"] == 0
    # stride windows: doc3 has 25 tokens -> positions 1,6,11,16 -> 4 passages
    assert out[3]["n_passages"] == 4


def test_pii_scrub(spark):
    from data_profiler_spark.operators.text import pii_counts, scrub_pii
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@test.org and x@y.io, site https://a.b/c?d=1 ip 10.0.0.1"),
            (2, "clean text no pii"),
            (3, "http://plain.example/path only"),
        ],
        "id long, t string",
    )
    c = pii_counts(F.col("t"))
    got = {
        r["id"]: r
        for r in df.select(
            "id", c["n_emails"].alias("e"), c["n_urls"].alias("u"),
            c["n_ips"].alias("i"), scrub_pii(F.col("t")).alias("clean"),
        ).collect()
    }
    assert (got[1]["e"], got[1]["u"], got[1]["i"]) == (2, 1, 1)
    assert "<EMAIL>" in got[1]["clean"] and "<URL>" in got[1]["clean"]
    assert "<IP>" in got[1]["clean"]
    assert "@" not in got[1]["clean"].replace("<EMAIL>", "")
    assert (got[2]["e"], got[2]["u"], got[2]["i"]) == (0, 0, 0)
    assert got[2]["clean"] == "clean text no pii"
    assert got[3]["u"] == 1 and got[3]["clean"] == "<URL> only"


def test_containment_pairs_decontamination(spark):
    """Cross-table n-gram containment (benchmark decontamination): python
    set oracle on a hand-built corpus; probe side broadcast, no all-pairs."""
    from data_profiler_spark.operators.dedup import containment_pairs

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over a sleeping cat"),
        (3, "completely unrelated text about spark physical plans"),
        (4, "short text"),
    ]
    probe_rows = [
        (100, "quick brown fox jumps over"),   # contained in docs 1 and 2
        (101, "spark physical plans"),          # 1 trigram, in doc 3
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    probes = spark.createDataFrame(probe_rows, "probe_id long, text string")

    got = {
        (r["doc_id"], r["probe_id"]): (r["inter"], r["containment"])
        for r in containment_pairs(
            corpus, probes, shingle_n=3, threshold=0.5
        ).collect()
    }

    def tri(s):
        t = s.lower().split()
        if len(t) < 3:
            return {" ".join(t)}
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    want = {}
    for did, dtext in corpus_rows:
        for pid, ptext in probe_rows:
            inter = len(tri(dtext) & tri(ptext))
            c = inter / len(tri(ptext))
            if c >= 0.5:
                want[(did, pid)] = (inter, round(c, 6))
    assert got == want
    assert (1, 100) in got and got[(1, 100)][1] == 1.0  # fully contained
    assert (3, 101) in got
    # non-broadcast fallback gives identical results
    got2 = {
        (r["doc_id"], r["probe_id"]): (r["inter"], r["containment"])
        for r in containment_pairs(
            corpus, probes, shingle_n=3, threshold=0.5,
            broadcast_probes=False,
        ).collect()
    }
    assert got2 == got


def test_containment_auto_broadcast_switch(spark):
    """VERDICT r4 #7: broadcast_probes=None auto-decides from the
    estimated exploded probe-index size vs autoBroadcastJoinThreshold —
    small probe sets broadcast, oversized ones fall back to the shuffle
    join, and all three modes agree on results."""
    from data_profiler_spark.operators.dedup import (
        _parse_byte_conf,
        _probe_index_fits_broadcast,
        containment_pairs,
    )

    assert _parse_byte_conf("10485760b") == 10485760
    assert _parse_byte_conf("10MB") == 10 * 1024 * 1024
    assert _parse_byte_conf("-1") == -1
    assert _parse_byte_conf("1g") == 1 << 30

    probes = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(20)],
        "probe_id long, text string",
    )

    default_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        assert _probe_index_fits_broadcast(probes, "text", 3) is True
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100b")
        assert _probe_index_fits_broadcast(probes, "text", 3) is False
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert _probe_index_fits_broadcast(probes, "text", 3) is False

        corpus = spark.createDataFrame(
            [(1, "alpha beta gamma delta 3 epsilon zeta and more words"),
             (2, "nothing in common with any probe at all here")],
            "doc_id long, text string",
        )
        # auto mode under a tiny threshold (shuffle path) == forced modes
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100b")
        res_auto = sorted(
            tuple(r) for r in containment_pairs(
                corpus, probes, shingle_n=3, threshold=0.5
            ).collect()
        )
        res_bc = sorted(
            tuple(r) for r in containment_pairs(
                corpus, probes, shingle_n=3, threshold=0.5,
                broadcast_probes=True,
            ).collect()
        )
        assert res_auto == res_bc and len(res_auto) == 1
        assert res_auto[0][0] == 1 and res_auto[0][1] == 3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", default_thr)


def test_connected_components_clusters(spark):
    """Chain, pair, cycle-with-tail, and a filtered self-loop: every node
    lands in the component of its min id; roots map to themselves."""
    from data_profiler_spark.operators.dedup import connected_components

    pairs = [(2, 1), (3, 2), (4, 3), (5, 4), (10, 11),
             (20, 21), (21, 22), (20, 22), (22, 23), (7, 7)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    expect = {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
              (10, 10), (11, 10),
              (20, 20), (21, 20), (22, 20), (23, 20)}
    # driver union-find path (default) and distributed star rounds
    # (forced via driver_max_edges=0) must agree exactly
    got = {(r.node, r.component) for r in connected_components(df).collect()}
    assert got == expect
    got_dist = {
        (r.node, r.component)
        for r in connected_components(df, driver_max_edges=0).collect()
    }
    assert got_dist == expect


def test_connected_components_star_converges_fast(spark):
    """An already-star input is a fixpoint: one verification round, exact
    output, and duplicate / reversed edges collapse."""
    from data_profiler_spark.operators.dedup import connected_components

    pairs = [(1, 2), (1, 3), (1, 4), (2, 1), (1, 2)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {(r.node, r.component) for r in connected_components(df).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1)}


def test_connected_components_matches_union_find(spark):
    """Random-ish deterministic graph vs a driver-side union-find oracle."""
    from data_profiler_spark.operators.dedup import connected_components

    pairs = [((i * 7919) % 97, (i * 104729) % 97) for i in range(60)]
    pairs = [(a, b) for a, b in pairs if a != b]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {(n, find(n)) for n in parent}
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    # force the DISTRIBUTED star rounds (the driver path IS a union-find —
    # comparing it to itself would prove nothing)
    got = {
        (r.node, r.component)
        for r in connected_components(df, driver_max_edges=0).collect()
    }
    assert got == expect


def test_gopher_like_filter_rules(spark):
    """Each rule trips on a doc built to violate exactly it."""
    from data_profiler_spark.operators.text import gopher_like_filter

    docs = [
        (1, "the cat sat on the mat and it was good for all of us here"),  # clean
        (2, "too short"),                                    # token floor
        (3, "the " + "internationalization " * 30),          # avg token len cap
        (4, "!!! ??? *** " + "the and of to in is that for " * 4),  # punct cap
        (5, ("dup phrase here " * 20) + "the and of to in"),  # trigram repetition
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in gopher_like_filter(
            df, "text", id_cols=["doc_id"],
            min_tokens=5, max_punct_ratio=0.05, max_dup_trigram_frac=0.3,
        ).collect()
    }
    assert out[1]["keep"]
    assert not out[2]["pass_token_count"] and not out[2]["keep"]
    assert not out[3]["pass_avg_token_len"] and not out[3]["keep"]
    assert not out[4]["pass_punct_ratio"] and not out[4]["keep"]
    assert not out[5]["pass_dup_trigram"] and not out[5]["keep"]
    # every row carries all 7 flags + keep
    assert all(len([k for k in r.asDict() if k.startswith("pass_")]) == 7
               for r in out.values())


def test_connected_components_rejects_non_integral_ids(spark):
    """ADVICE r5: string node ids would silently cast to NULL (non-ANSI)
    and return an empty result — refuse loudly at plan time instead."""
    import pytest

    from data_profiler_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string"
    )
    with pytest.raises(ValueError, match="integral node ids"):
        connected_components(df)
    # mixed: one side integral, the other not -> still refused
    df2 = spark.createDataFrame([(1, "x")], "id_a long, id_b string")
    with pytest.raises(ValueError, match="id_b"):
        connected_components(df2)
    # the documented escape hatch works: hash string ids to longs first
    from pyspark.sql import functions as F

    hashed = df.select(
        F.xxhash64("id_a").alias("id_a"), F.xxhash64("id_b").alias("id_b")
    )
    comps = {r.component for r in connected_components(hashed).collect()}
    assert len(comps) == 1  # a-b-c is one component


def test_chunk_documents(spark):
    from data_profiler_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 tokens
            (2, "a b c"),  # 3 tokens -> one short chunk
            (3, ""),  # empty -> no chunks
            (4, None),  # null -> no chunks
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(df, "text", ["doc_id"], chunk_tokens=4, overlap=1)
    rows = {(r["doc_id"], r["chunk_index"]): r for r in out.collect()}
    # doc 1: stride 3 -> starts 0,3,6,9
    assert [k for k in sorted(rows) if k[0] == 1] == [(1, i) for i in range(4)]
    assert rows[(1, 0)]["chunk_text"] == "w0 w1 w2 w3"
    assert rows[(1, 1)]["chunk_text"] == "w3 w4 w5 w6"  # 1-token overlap
    assert rows[(1, 3)]["chunk_text"] == "w9" and rows[(1, 3)]["n_tokens"] == 1
    assert rows[(2, 0)]["chunk_text"] == "a b c" and rows[(2, 0)]["n_tokens"] == 3
    assert not [k for k in rows if k[0] in (3, 4)]
    # chunks reassemble the doc: stride-consecutive chunks share `overlap`
    assert sum(r["n_tokens"] for k, r in rows.items() if k[0] == 1) == 10 + 3 * 1

    import pytest

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, "text", ["doc_id"], chunk_tokens=4, overlap=4)


def test_unigram_logprob_self_and_reference_vocab(spark):
    import math

    from data_profiler_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")],
        "doc_id long, text string",
    )
    # corpus counts: a=2 b=2 c=1, total 5
    out = {r["doc_id"]: r for r in unigram_logprob(df, "text", ["doc_id"]).collect()}
    exp1 = (2 * math.log(2 / 5) + math.log(2 / 5)) / 3
    exp2 = (math.log(2 / 5) + math.log(1 / 5)) / 2
    assert out[1]["mean_logprob"] == pytest.approx(exp1)
    assert out[2]["mean_logprob"] == pytest.approx(exp2)
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2

    # reference-vocab mode: fit on doc 1 only, score both; OOV floor for c
    vocab = spark.createDataFrame([("a", 2), ("b", 1)], "tok string, c long")
    ref = {
        r["doc_id"]: r
        for r in unigram_logprob(
            df, "text", ["doc_id"], vocab=vocab, oov_logprob=-9.0
        ).collect()
    }
    exp1r = (2 * math.log(2 / 3) + math.log(1 / 3)) / 3
    exp2r = (math.log(1 / 3) + (-9.0)) / 2
    assert ref[1]["mean_logprob"] == pytest.approx(exp1r)
    assert ref[2]["mean_logprob"] == pytest.approx(exp2r)


def test_perplexity_buckets(spark):
    from data_profiler_spark.operators.text import perplexity_buckets

    # 9 docs with strictly distinct fluency scores: more common-token
    # mass -> higher mean logprob; distinct scores give a clean 3/3/3
    # equal-population split.
    common, rare = "the the the the", "zzzq xqzzy vvqx wwvk"
    rows = [
        (i, " ".join(rare.split()[: 4 - i] + common.split()[: i]))
        for i in range(5)
    ] + [
        (5, "the the the quick"),
        (6, "the the quick quick"),
        (7, "the quick quick quick"),
        (8, "quick quick quick quick"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in perplexity_buckets(df, "text", ["doc_id"], n_buckets=3).collect()
    }
    assert len(out) == 9
    assert len({r["mean_logprob"] for r in out.values()}) == 9
    # equal-population tiers over distinct scores: 3 docs per bucket,
    # tiers ordered by score (bucket 0 = lowest logprob = tail)
    ranked = sorted(out.values(), key=lambda r: r["mean_logprob"])
    assert [r["bucket_index"] for r in ranked] == [0] * 3 + [1] * 3 + [2] * 3
    # the all-rare doc is tail, the all-common doc is head
    assert out[0]["bucket_index"] == 0 and out[4]["bucket_index"] == 2
    with pytest.raises(ValueError):
        perplexity_buckets(df, "text", ["doc_id"], n_buckets=1)


def test_dsir_logratio(spark):
    from data_profiler_spark.operators.text import dsir_logratio
    import math

    rows = [
        (0, "aa aa bb", "en"),
        (1, "aa bb cc", "en"),
        (2, "cc cc dd", "de"),
        (3, "dd dd dd", "de"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {
        r["doc_id"]: r
        for r in dsir_logratio(
            df, "text", ["doc_id"], target_cond=F.col("lang") == "en"
        ).collect()
    }
    # hand oracle: raw counts aa=3 bb=2 cc=3 dd=4 (T=12);
    # target (en) counts aa=3 bb=2 cc=1 (T=6); dd unseen -> floor -20
    lr = {
        "aa": math.log(3 / 6) - math.log(3 / 12),
        "bb": math.log(2 / 6) - math.log(2 / 12),
        "cc": math.log(1 / 6) - math.log(3 / 12),
        "dd": -20.0 - math.log(4 / 12),
    }
    exp0 = (2 * lr["aa"] + lr["bb"]) / 3
    exp3 = lr["dd"]
    assert out[0]["mean_log_ratio"] == pytest.approx(exp0, abs=1e-9)
    assert out[3]["mean_log_ratio"] == pytest.approx(exp3, abs=1e-9)
    assert out[0]["n_tokens"] == 3
    # in-domain docs rank above out-of-domain
    assert out[0]["mean_log_ratio"] > out[2]["mean_log_ratio"] > out[3]["mean_log_ratio"]
    with pytest.raises(ValueError):
        dsir_logratio(df, "text", ["doc_id"])


def test_kmv_overlap_exact_and_estimated(spark):
    from data_profiler_spark.operators.sketches import kmv_overlap, kmv_sketch

    a = spark.createDataFrame([(f"k{i}",) for i in range(40)], ["key"])
    b = spark.createDataFrame([(f"k{i}",) for i in range(20, 60)], ["key"])
    # k > both cardinalities -> sketches exhaustive -> everything exact
    row = kmv_overlap(a, b, "key", k=256).first()
    assert row["est_distinct_a"] == 40.0
    assert row["est_distinct_b"] == 40.0
    assert row["est_distinct_union"] == 60.0
    assert row["k_intersect"] == 20
    assert row["est_jaccard"] == pytest.approx(20 / 60, abs=1e-6)
    # k below cardinality -> estimates within a loose KMV error band
    big_a = spark.range(0, 2000).select(F.concat(F.lit("x"), "id").alias("key"))
    big_b = spark.range(1000, 3000).select(F.concat(F.lit("x"), "id").alias("key"))
    est = kmv_overlap(big_a, big_b, "key", k=128).first()
    assert 1200 < est["est_distinct_a"] < 3200  # true 2000, ~±2/sqrt(k)
    assert 1800 < est["est_distinct_union"] < 4800  # true 3000
    assert 0.15 < est["est_jaccard"] < 0.55  # true 1/3
    # sketch is the k smallest distinct hashes, sorted
    hs = [r["h"] for r in kmv_sketch(big_a, "key", 16).collect()]
    assert len(hs) == 16 == len(set(hs)) and hs == sorted(hs)


def test_dup_spans_and_removal(spark):
    from data_profiler_spark.operators.text import dup_spans, remove_dup_spans

    # doc 0 and doc 1 share a 10-token run (one duplicated span each side,
    # keep-first: doc 0 keeps, doc 1 loses); doc 2 is clean; doc 3 repeats
    # its own 8-token prefix twice (intra-doc dup -> second occurrence goes)
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, shared + " unique tail zero"),
        (1, "lead one " + shared),
        (2, "totally different words with no duplicate runs here at all"),
        (3, "p1 p2 p3 p4 p5 p6 p7 p8 mid p1 p2 p3 p4 p5 p6 p7 p8"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dup_spans(df, "doc_id", "text", window=8).collect()
    }
    # doc 1: shared run occupies tokens 3..12; duplicated windows at
    # positions 3..5 (grid-aligned 8-token windows inside the run) merge
    # to one span [3, 12]. doc 3: second prefix occurrence at 10..17.
    assert spans == {(1, 3, 12), (3, 10, 17)}
    out = {
        r["doc_id"]: r
        for r in remove_dup_spans(df, "doc_id", "text", window=8).collect()
    }
    assert out[0]["n_spans"] == 0 and out[0]["n_removed_tokens"] == 0
    assert out[0]["clean_text"] == rows[0][1]
    assert out[1]["n_spans"] == 1 and out[1]["n_removed_tokens"] == 10
    assert out[1]["clean_text"] == "lead one"
    assert out[2]["n_spans"] == 0
    assert out[3]["n_spans"] == 1 and out[3]["n_removed_tokens"] == 8
    assert out[3]["clean_text"] == "p1 p2 p3 p4 p5 p6 p7 p8 mid"


def test_dup_spans_skewed_hash_no_window_funnel(spark):
    """r7 (VERDICT r6 #1): a boilerplate window occurring across the whole
    corpus must NOT funnel through one reducer. The occurrence count /
    keep-first rank now come from a map-side-combinable groupBy, so the
    physical plan contains no Window over the hash column (the only Window
    left is the per-doc islands pass), and a zipf-style fixture (one hot
    8-token window in 500 docs) still yields exact keep-first spans."""
    from data_profiler_spark.operators.text import dup_spans

    hot = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows = [(i, f"doc{i}only {hot}") for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    plan = dup_spans(df, "doc_id", "text", window=8)._jdf.queryExecution(
    ).executedPlan().toString()
    # only the two per-doc islands Windows (prev_end + island sum) remain,
    # and no window spec is keyed on the hash column
    assert plan.count("Window") - plan.count("WindowGroupLimit") <= 2
    assert "windowspecdefinition(ph" not in plan
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in plan and dup_spans(df, "doc_id", "text", window=8).collect()
    }
    # keep-first: doc 0 (lowest (id, pos)) keeps its occurrence; all other
    # 499 docs lose tokens 2..9
    assert got == {(i, 2, 9) for i in range(1, 500)}
