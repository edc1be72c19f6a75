"""Invariant tests: operators checked against independent recomputation
(numpy/pure Python) on randomized-but-seeded data, complementing the
example-based oracle parity tests.  Each test builds ONE DataFrame of many
random cases and asserts the invariant over all rows at once, so the cost is
two Spark jobs per property, not one per example."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from json_format_in_parquet_benchmark_spark.operators.dedup import (
    _shingle_sets,
    minhash_signatures,
)
from json_format_in_parquet_benchmark_spark.operators.similarity import (
    centroids,
    ivf_assign,
    topk_bruteforce,
    topk_lsh,
)
from json_format_in_parquet_benchmark_spark.runtime import scoped_conf
from json_format_in_parquet_benchmark_spark.streaming.events_stream import (
    sessionize_batch,
)
from json_format_in_parquet_benchmark_spark.tables import load_table

GAP_MIN = 45


def _random_events(spark, n_users=40, max_events=60, seed=7):
    rng = random.Random(seed)
    rows = []
    eid = 0
    for u in range(n_users):
        t_us = rng.randrange(10**12)
        for _ in range(rng.randrange(1, max_events)):
            t_us += rng.randrange(1, 3 * GAP_MIN * 60 * 1_000_000)
            rows.append((eid, u, t_us))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts_us long")
    return df.select(
        "event_id", "user_id", F.expr("timestamp_micros(ts_us)").alias("ts")
    )


def test_sessionize_partitions_events_and_respects_gap(spark):
    """Sessions (a) cover every event exactly once, (b) never contain an
    internal gap > GAP, (c) are separated by > GAP per user."""
    events = _random_events(spark)
    gap_us = GAP_MIN * 60 * 1_000_000
    sess = sessionize_batch(events, gap_minutes=GAP_MIN).cache()

    n_events = events.count()
    assert sess.agg(F.sum("n_events")).first()[0] == n_events

    # session spans are consistent and sessions per user are ordered,
    # disjoint, and separated by more than the gap
    rows = sorted(
        sess.collect(), key=lambda r: (r.user_id, r.session_seq)
    )
    by_user: dict[int, list] = {}
    for r in rows:
        assert r.start_us <= r.end_us
        # a session of n events within gap-rule spans < n*gap
        assert r.end_us - r.start_us <= (r.n_events - 1) * gap_us
        by_user.setdefault(r.user_id, []).append(r)
    for sess_list in by_user.values():
        for a, b in zip(sess_list, sess_list[1:]):
            assert b.session_seq == a.session_seq + 1
            assert b.start_us - a.end_us > gap_us
    sess.unpersist()


def test_minhash_identical_docs_share_signature(spark, sf_dir):
    """Exact-duplicate texts must get identical signatures, and signature
    columns must never be null for docs with >= n tokens."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    dup = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    sig = minhash_signatures(
        _shingle_sets(docs.unionByName(dup), "text", "doc_id", 3), k=16
    )
    m_cols = [f"m{j}" for j in range(16)]
    orig = {r.doc_id: tuple(r[c] for c in m_cols) for r in sig.collect()}
    for doc_id, s in orig.items():
        if doc_id < 1_000_000:
            assert orig.get(doc_id + 1_000_000) == s
        assert all(v is not None for v in s)


def test_ivf_assign_matches_numpy_argmax(spark, sf_dir):
    """Cell assignment == numpy argmax of centroid dot products (ties to the
    lowest cell id)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    got = {r.vec_id: r.cell for r in ivf_assign(emb, "embedding", "vec_id").collect()}
    cents = np.array(centroids(16, 64))
    for r in emb.collect():
        dots = cents @ np.array(r.embedding, dtype=np.float64)
        want = int(np.argmax(dots))  # np.argmax returns first max = lowest id
        assert got[r.vec_id] == want, r.vec_id


def test_lsh_topk_is_subset_of_bruteforce_scores(spark, sf_dir):
    """Every LSH-reported neighbor must carry the same cosine the exact
    brute-force assigns to that pair (LSH affects recall, never scores)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 4)
    bf = topk_bruteforce(emb, q, "embedding", "vec_id", k=1000)
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim for r in bf.collect()
    }
    approx = topk_lsh(emb, q, "embedding", "vec_id", k=10).collect()
    assert approx, "LSH returned no neighbors at all"
    for r in approx:
        key = (r.query_id, r.neighbor_id)
        assert key in exact
        assert math.isclose(r.cos_sim, exact[key], rel_tol=0, abs_tol=0.0)


def test_ivf_assign_hier_exact_matches_duckdb(spark, sf_dir):
    """The integer-exact two-level assignment (the REGISTERED knn-graph
    scale arm) must agree with its DuckDB CTE twin bit for bit -- the
    cross-engine pin that lets the O(N*2*sqrt(n_cells)*dim) plan carry a
    hash oracle."""
    import duckdb

    from json_format_in_parquet_benchmark_spark.operators.similarity import (
        hier_assign_duckdb_ctes,
        ivf_assign_hier_exact,
    )
    from json_format_in_parquet_benchmark_spark.tables import table_path

    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        r.vec_id: r.cell
        for r in ivf_assign_hier_exact(
            emb, "embedding", "vec_id", n_cells=64, dim=64
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{table_path(sf_dir, 'embeddings')}')"
    )
    ctes = hier_assign_duckdb_ctes("embeddings", "embedding", "vec_id", 64, 64)
    want = dict(
        con.execute(f"WITH {ctes} SELECT vec_id, cell FROM assigned").fetchall()
    )
    assert got == want
    assert all(0 <= c < 64 for c in got.values())


def test_hier_groups_divisor_rule():
    """The coarse-group default must always DIVIDE n_cells (equal group
    sizes are what make group-sum argmax == group-mean argmax), picking
    the divisor nearest sqrt; explicit non-divisors are rejected."""
    import pytest as _pytest

    from json_format_in_parquet_benchmark_spark.operators.similarity import (
        hier_groups,
    )

    assert hier_groups(64, None) == 8
    assert hier_groups(1, None) == 1
    for n_cells in (1000, 1024, 10000, 96, 17):
        g = hier_groups(n_cells, None)
        assert n_cells % g == 0
        # no other divisor is strictly closer to sqrt
        root = n_cells ** 0.5
        best = min(
            (d for d in range(1, n_cells + 1) if n_cells % d == 0),
            key=lambda d: (abs(d - root), d),
        )
        assert g == best
    assert hier_groups(64, 16) == 16
    with _pytest.raises(ValueError):
        hier_groups(64, 7)  # not a divisor
    with _pytest.raises(ValueError):
        hier_groups(64, 0)


def test_knn_graph_exact_singleton_cells(spark):
    """Cells with fewer than 2 members must emit nothing (a vector with
    no cell-mates has no neighbors) and the schema must hold."""
    from json_format_in_parquet_benchmark_spark.operators.similarity import (
        knn_graph_ivf_exact,
    )

    # Two far-apart vectors forced into distinct cells via an explicit
    # assignment: no co-located pair, so the graph is empty.
    emb = spark.createDataFrame(
        [(0, [1.0] * 64), (1, [-1.0] * 64)], "vec_id long, embedding array<float>"
    )
    assigned = spark.createDataFrame(
        [(0, 0), (1, 1)], "vec_id long, cell int"
    )
    out = knn_graph_ivf_exact(
        emb, "embedding", "vec_id", k=5, n_cells=2, dim=64, assigned=assigned
    )
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]
    assert out.count() == 0
    # and with both in ONE cell, exactly one mutual edge pair at rank 1
    together = spark.createDataFrame(
        [(0, 0), (1, 0)], "vec_id long, cell int"
    )
    rows = knn_graph_ivf_exact(
        emb, "embedding", "vec_id", k=5, n_cells=2, dim=64, assigned=together
    ).collect()
    assert sorted((r.query_id, r.neighbor_id, r.rank) for r in rows) == [
        (0, 1, 1), (1, 0, 1)
    ]
    assert all(abs(r.cos_sim + 1.0) < 1e-12 for r in rows)


def test_knn_graph_exact_zero_vector_fails_loudly(spark):
    """A vector that quantizes to all-zero on the EQ_GRID has no defined
    cosine; the kernel must raise (matching its documented failure mode)
    rather than emit NaN/inf rows whose lexsort order could silently
    diverge from the DuckDB oracle's ORDER BY."""
    import pytest as _pytest

    from json_format_in_parquet_benchmark_spark.operators.similarity import (
        knn_graph_ivf_exact,
    )

    # |x| < 1/EQ_GRID_F everywhere -> floor(x * 1e6) == 0 on every axis.
    emb = spark.createDataFrame(
        [(0, [1e-7] * 64), (1, [1.0] * 64), (2, [0.5] * 64)],
        "vec_id long, embedding array<float>",
    )
    together = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0)], "vec_id long, cell int"
    )
    out = knn_graph_ivf_exact(
        emb, "embedding", "vec_id", k=5, n_cells=1, dim=64, assigned=together
    )
    with _pytest.raises(Exception, match="quantizes to all-zero"):
        out.collect()
    # and without the degenerate row the same plan succeeds
    ok = knn_graph_ivf_exact(
        emb.filter("vec_id > 0"), "embedding", "vec_id",
        k=5, n_cells=1, dim=64,
        assigned=together.filter("vec_id > 0"),
    ).collect()
    assert sorted((r.query_id, r.neighbor_id) for r in ok) == [(1, 2), (2, 1)]


def test_knn_graph_exact_quantized_ranking_faithful(spark, sf_dir):
    """The registered knn graph ranks by QUANTIZED-vector cosine (the 1e6
    grid that makes the kernel oracle-able).  Pin that the quantization
    is semantically negligible: with the same cell assignment, per-query
    neighbor SETS at k=5 match raw-double-cosine ranking for >= 98% of
    queries, and every disagreement is a genuine near-tie (the raw
    cosines of the swapped neighbors differ by < 1e-4)."""
    from json_format_in_parquet_benchmark_spark.operators.similarity import (
        ivf_assign_hier_exact,
        knn_graph_ivf,
        knn_graph_ivf_exact,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cells = ivf_assign_hier_exact(emb, "embedding", "vec_id", 64, 64)
    quant = {}
    for r in knn_graph_ivf_exact(
        emb, "embedding", "vec_id", k=5, n_cells=64, dim=64, assigned=cells
    ).collect():
        quant.setdefault(r.query_id, set()).add(r.neighbor_id)
    raw_rows = knn_graph_ivf(
        emb, "embedding", "vec_id", k=5, n_cells=64, dim=64, assigned=cells
    ).collect()
    raw = {}
    raw_cos = {}
    for r in raw_rows:
        raw.setdefault(r.query_id, set()).add(r.neighbor_id)
        raw_cos[(r.query_id, r.neighbor_id)] = r.cos_sim
    assert set(quant) == set(raw)
    disagree = [q for q in raw if quant[q] != raw[q]]
    assert len(disagree) <= max(1, len(raw) // 50), (
        f"{len(disagree)}/{len(raw)} queries disagree"
    )
    for q in disagree:
        # the raw-ranked neighbors the quantized ranking dropped must be
        # near-ties with raw cosines of ones it kept
        dropped = raw[q] - quant[q]
        kept_cos = [raw_cos[(q, n)] for n in raw[q] & quant[q]]
        for n in dropped:
            assert kept_cos and min(
                abs(raw_cos[(q, n)] - c) for c in kept_cos
            ) < 1e-4, (q, n)


def test_simhash_banding_equals_all_pairs(spark, sf_dir):
    """The band-blocked Hamming join must produce EXACTLY the all-pairs
    result (bands > max_hamming => pigeonhole guarantees a shared band for
    every pair within the radius) -- the property that lets the plan be
    sub-quadratic while the oracle stays the direct definition."""
    from json_format_in_parquet_benchmark_spark.operators.dedup import (
        simhash_docs,
        simhash_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").limit(150)
    sims = simhash_docs(docs, "text", "doc_id", bits=60).collect()
    want = set()
    for a in sims:
        for b in sims:
            if a.doc_id < b.doc_id:
                h = bin(a.simhash ^ b.simhash).count("1")
                if h <= 3:
                    want.add((a.doc_id, b.doc_id, h))
    if not want:
        import pytest

        pytest.skip("no Hamming<=3 pair in this corpus sample; property untestable")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(
            docs, "text", "doc_id", bits=60, bands=4, max_hamming=3
        ).collect()
    }
    assert got == want
    # The block-combination scale form (blocks=6: C(6,3)=20 bands of
    # 30-bit keys) must produce the SAME exact pair set -- pigeonhole on
    # blocks instead of contiguous bands, full recall either way.
    got_blocks = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(
            docs, "text", "doc_id", bits=60, bands=4, max_hamming=3,
            blocks=6,
        ).collect()
    }
    assert got_blocks == want


def test_simhash_max_bucket_drops_only_capped_buckets(spark, sf_dir):
    """With max_bucket=1 every non-singleton band bucket is dropped, so the
    output must be a SUBSET of the uncapped result; with a huge cap the
    result must equal the uncapped one exactly (the minhash cap contract,
    mirrored for simhash)."""
    from json_format_in_parquet_benchmark_spark.operators.dedup import (
        simhash_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").limit(120)
    full = {
        (r.doc_a, r.doc_b)
        for r in simhash_pairs(
            docs, "text", "doc_id", max_bucket=None
        ).collect()
    }
    capped_loose = {
        (r.doc_a, r.doc_b)
        for r in simhash_pairs(
            docs, "text", "doc_id", max_bucket=10**9
        ).collect()
    }
    assert capped_loose == full
    capped_tight = {
        (r.doc_a, r.doc_b)
        for r in simhash_pairs(docs, "text", "doc_id", max_bucket=1).collect()
    }
    assert capped_tight <= full


def test_exact_dedup_counts_partition_table(spark, sf_dir):
    """Dedup groups partition the table: group sizes sum to row count and
    every representative id is a member of its group."""
    from json_format_in_parquet_benchmark_spark.operators.dedup import exact_dedup

    events = load_table(spark, sf_dir, "events")
    groups = exact_dedup(events, "props", "event_id")
    assert groups.agg(F.sum("n_copies")).first()[0] == events.count()
    joined = groups.join(
        events.select(F.md5("props").alias("value_hash"), F.col("event_id").alias("rep_id")),
        ["value_hash", "rep_id"],
        "left_semi",
    )
    assert joined.count() == groups.count()


def test_connected_components_on_known_graph(spark):
    """Chains, separate components, and reversed edge directions all resolve
    to the component-minimum representative."""
    from json_format_in_parquet_benchmark_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (7, 6), (9, 8), (10, 9)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.cluster_rep for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 6, 8: 8, 9: 8, 10: 8}

    # Force the distributed min-label-propagation path (driver_max_edges=0)
    # and require the identical fixpoint -- the two physical strategies must
    # be indistinguishable to callers and to the oracle.
    distributed = {
        r.doc_id: r.cluster_rep
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert distributed == got


def test_connected_components_frees_stale_checkpoints(spark):
    """A long-diameter chain drives the propagation loop through several
    localCheckpoint rounds; the loop must release each stale checkpoint's
    pinned blocks (plain unpersist() is a no-op on locally-checkpointed
    frames), leaving at most the final checkpoint + the returned labels
    frame pinned -- not one block set per 5 rounds -- and release_caches
    must free those last two."""
    from json_format_in_parquet_benchmark_spark.operators.dedup import (
        connected_components,
    )
    from json_format_in_parquet_benchmark_spark.runtime import release_caches

    jsc = spark.sparkContext._jsc.sc()
    release_caches()
    base = jsc.getPersistentRDDs().size()

    n = 42  # path graph: diameter 41 -> ~8 checkpoint rounds at every=5
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
    )
    out = connected_components(edges, driver_max_edges=0, max_iter=60)
    got = {r.doc_id: r.cluster_rep for r in out.collect()}
    assert got == {i: 1 for i in range(1, n + 1)}

    # Live after the call: the returned labels frame (+ at most the final
    # checkpoint it reads).  8 leaked checkpoints would show up here.
    leaked = jsc.getPersistentRDDs().size() - base
    assert leaked <= 3, f"stale checkpoint blocks still pinned: {leaked}"
    # release_caches frees the returned labels AND the final checkpoint's
    # blocks, which labels.unpersist() alone cannot reach.
    release_caches()
    assert jsc.getPersistentRDDs().size() == base


def test_kmeans_assignment_is_true_argmin(spark, sf_dir):
    """Every vector's assigned centroid is at least as close as every other
    centroid (Lloyd invariant), verified against numpy."""
    import numpy as np

    from json_format_in_parquet_benchmark_spark.operators.semantic import (
        kmeans_assign,
    )
    from json_format_in_parquet_benchmark_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = kmeans_assign(emb, "embedding", "vec_id", k=4, iters=2).collect()
    vecs = np.array([r["vd"] for r in rows])
    labels = np.array([r["cluster"] for r in rows])
    # recompute final centroids from quantized means exactly as the operator
    cents = {}
    for c in sorted(set(labels)):
        block = np.floor(vecs[labels == c] * 1e8)
        cents[c] = block.sum(axis=0) / (len(block) * 1e8)
    # the operator's FINAL assignment used the centroids from iteration 2,
    # which equal `cents` recomputed from the PREVIOUS assignment -- so only
    # check the weaker, init-independent invariant: each vector is closer to
    # its own cluster's centroid than to any other, for >= 95% of vectors
    # (boundary vectors may legitimately flip between the last two rounds).
    cmat = np.array([cents[c] for c in sorted(cents)])
    dists = ((vecs[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
    nearest = dists.argmin(axis=1)
    agree = (nearest == labels).mean()
    assert agree >= 0.95, f"only {agree:.2%} of vectors at their argmin"


def test_semantic_dup_flags_lowest_id_kept(spark, sf_dir):
    """The lowest vec_id of every near-dup pair is never flagged dropped,
    and flagged vectors really have a similar lower-id same-cluster peer."""
    import numpy as np

    from json_format_in_parquet_benchmark_spark.operators.semantic import (
        semantic_dup_flags,
    )
    from json_format_in_parquet_benchmark_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dup_flags(
        emb, "embedding", "vec_id", threshold=0.4, k=4, iters=2
    ).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    cluster_of = {r["vec_id"]: r["cluster"] for r in out}
    flagged = {r["vec_id"] for r in out if r["semantic_dup"] == 1}
    assert len(flagged) > 0, "threshold 0.4 should flag something"
    for vid in flagged:
        peers = [
            o for o in vecs
            if o < vid and cluster_of[o] == cluster_of[vid]
        ]
        sims = [
            float(vecs[vid] @ vecs[o] / (np.linalg.norm(vecs[vid]) * np.linalg.norm(vecs[o])))
            for o in peers
        ]
        assert sims and max(sims) >= 0.4 - 1e-9


def test_gopher_quality_splits_corpus(spark, sf_dir):
    """The Gopher gate must neither pass nor reject everything, and the
    repetition fractions must be consistent with a direct recount."""
    from json_format_in_parquet_benchmark_spark.plans import REGISTRY

    rows = REGISTRY["text_gopher_quality"].fn(spark, sf_dir).collect()
    n_pass = sum(r["gopher_pass"] for r in rows)
    assert 0 < n_pass < len(rows)
    for r in rows[:20]:
        assert 0.0 <= r["dup_token_frac"] <= 1.0
        assert 0.0 <= r["top_bigram_frac"] <= 1.0


def test_bloom_decon_has_no_false_negatives(spark, sf_dir):
    """Bloom membership never misses: every training doc the EXACT
    decontamination query pairs with a benchmark doc must be flagged by
    the Bloom pre-screen too (false positives allowed, negatives not)."""
    from json_format_in_parquet_benchmark_spark.plans import REGISTRY

    exact = REGISTRY["text_decontaminate"].fn(spark, sf_dir).collect()
    bloom = REGISTRY["sketch_bloom_decontaminate"].fn(spark, sf_dir).collect()
    exact_docs = {r["doc_id"] for r in exact}
    bloom_flagged = {r["doc_id"] for r in bloom if r["flagged"] == 1}
    assert exact_docs <= bloom_flagged, (
        f"bloom missed {sorted(exact_docs - bloom_flagged)}"
    )


def test_ngram_prefix_exactness_and_df_cap_subset(spark, sf_dir):
    """The prefix-filtered Jaccard join must equal the brute-force
    threshold join (the prefix bound is lossless -- the PPJoin theorem),
    and the DF-capped variant's output must be a subset of it (the cap
    only ever drops pairs)."""
    from json_format_in_parquet_benchmark_spark.functions.text import (
        shingles_spark,
        tokens_spark,
    )
    from json_format_in_parquet_benchmark_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )
    from json_format_in_parquet_benchmark_spark.runtime import release_caches

    docs = load_table(spark, sf_dir, "documents")
    n, t = 4, 0.4

    prefix_rows = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs_prefix(
            docs, "text", "doc_id", n=n, threshold_num=2, threshold_den=5
        ).collect()
    }

    # Brute force: all pairs via full crossJoin, exact Jaccard, threshold.
    sets = docs.select(
        F.col("doc_id"),
        F.expr(shingles_spark(tokens_spark("text"), n)).alias("shset"),
    )
    a = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shset").alias("sha"),
        F.size("shset").alias("na"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shset").alias("shb"),
        F.size("shset").alias("nb"),
    )
    brute = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in (
            a.crossJoin(b)
            .where(F.col("doc_a") < F.col("doc_b"))
            .withColumn("inter", F.expr("size(array_intersect(sha, shb))"))
            .select(
                "doc_a",
                "doc_b",
                (
                    F.col("inter").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("inter"))
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= t)
        ).collect()
    }
    assert prefix_rows == brute

    capped = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", n=n).collect()
    }
    assert capped <= set(prefix_rows)
    release_caches()


def test_winnowing_guarantee_offset_independent(spark):
    """Schleimer et al.'s winnowing guarantee: two documents sharing a
    substring of length >= k + w - 1 produce at least one IDENTICAL
    fingerprint, regardless of where the passage sits in each document.
    Disjoint alphabets for the surrounding junk ensure the only shared
    grams come from the planted passage."""
    from json_format_in_parquet_benchmark_spark.operators.dedup import (
        winnow_fingerprints,
    )

    k, w = 8, 4
    passage = "zyxwvutsrqp"  # k + w - 1 = 11 chars
    docs = spark.createDataFrame(
        [
            (0, "0123456789012345" + passage + "543210"),
            (1, "ABCDEFGH" + passage + "IJKLMNOPQRSTUV"),
            (2, "aabbccddeeffgghhii"),  # shares nothing
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, "text", "doc_id", k=k, w=w).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1], "copied passage must share a fingerprint"
    assert not (by_doc[0] & by_doc.get(2, set()))
    assert not (by_doc[1] & by_doc.get(2, set()))


def test_pq_assign_fast_agrees_with_expr_path(spark, sf_dir):
    """The numpy PQ code assignment must agree code-for-code with the
    SQL-literal argmin expression on real vectors -- here EXACTLY, not just
    up to ties: both sides compute int64 distances on the same quantization
    grid, so even ties resolve identically (lowest code)."""
    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.operators.similarity import (
        PQ_M,
        _pq_code_expr,
        pq_assign_fast,
        pq_quantize,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    e = pq_quantize(emb, "embedding", "vec_id")
    cbs = pq_train_codebooks(e)
    expr_codes = {
        r["vec_id"]: tuple(r[f"code{s}"] for s in range(PQ_M))
        for r in e.select(
            "vec_id",
            *[
                F.expr(_pq_code_expr(s, cbs[s])).alias(f"code{s}")
                for s in range(PQ_M)
            ],
        ).collect()
    }
    fast_codes = {
        r["vec_id"]: tuple(r[f"code{s}"] for s in range(PQ_M))
        for r in pq_assign_fast(e, cbs).collect()
    }
    assert expr_codes == fast_codes


def test_pagerank_conserves_bounded_mass(spark, sf_dir):
    """Total rank mass stays within [residual-only, full scale]: every
    superstep redistributes at most the damped mass plus the residual, and
    floor divisions only ever DROP mass -- so the total is bounded above by
    RANK_SCALE and below by the pure-residual floor."""
    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.operators.graph import (
        RANK_SCALE,
        pagerank,
    )
    from json_format_in_parquet_benchmark_spark.runtime import release_caches

    eraw = spark.range(200).selectExpr("id as a", "(id * 7 + 1) % 200 as b")
    edges = eraw.selectExpr("a as src", "b as dst").union(
        eraw.selectExpr("b", "a")
    )
    ranks = pagerank(edges, n_iters=3)
    total = ranks.agg(F.sum("rank_q")).first()[0]
    n = ranks.count()
    release_caches()
    assert n == 200
    residual_floor = (RANK_SCALE - RANK_SCALE * 85 // 100) // 200 * 200
    assert residual_floor <= total <= RANK_SCALE


def test_markov_rows_normalize(spark, sf_dir):
    """Transition probabilities sum to 1 per source state (up to the exact
    rational arithmetic: sum of n/row_total over a row is exactly 1.0 when
    row_total divides cleanly through the double grid -- assert to 1e-12)."""
    from json_format_in_parquet_benchmark_spark.plans import REGISTRY

    rows = REGISTRY["events_markov_transitions"].fn(spark, sf_dir).collect()
    by_prev: dict[str, float] = {}
    for r in rows:
        by_prev[r["prev_type"]] = by_prev.get(r["prev_type"], 0.0) + r["p"]
    assert by_prev and all(abs(v - 1.0) < 1e-12 for v in by_prev.values())


def test_basket_lift_consistent_with_counts(spark, sf_dir):
    """Reported lift must equal the ratio recomputed from the emitted
    integer counts and the independent order total."""
    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.plans import REGISTRY
    from json_format_in_parquet_benchmark_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.select("l_orderkey").distinct().count()
    item_cnt = {
        r["l_partkey"]: r["cnt"]
        for r in items.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for r in REGISTRY["orders_market_basket"].fn(spark, sf_dir).collect():
        expect = (r["n_both"] * n_orders) / (
            item_cnt[r["part_a"]] * item_cnt[r["part_b"]]
        )
        assert r["lift"] == expect


def test_ivfpq_dist_matches_manual_adc(spark, sf_dir):
    """Every IVF-PQ reported distance must equal the ADC distance
    recomputed in Python from the trained codebooks and codes."""
    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.operators.similarity import (
        PQ_DSUB,
        PQ_M,
        pq_assign_fast,
        pq_quantize,
        pq_train_codebooks,
    )
    from json_format_in_parquet_benchmark_spark.plans import REGISTRY
    from json_format_in_parquet_benchmark_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    e = pq_quantize(emb, "embedding", "vec_id")
    cbs = pq_train_codebooks(e)
    codes = {
        r["vec_id"]: [r[f"code{s}"] for s in range(PQ_M)]
        for r in pq_assign_fast(e, cbs).collect()
    }
    qeq = {
        r["vec_id"]: [int(v) for v in r["eq"]]
        for r in e.where(F.col("vec_id") < 3).collect()
    }
    out = REGISTRY["similarity_ivfpq_topk"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        q = qeq[r["query_id"]]
        total = 0
        for s in range(PQ_M):
            cent = cbs[s][codes[r["neighbor_id"]][s]]
            total += sum(
                (q[s * PQ_DSUB + j] - cent[j]) ** 2 for j in range(PQ_DSUB)
            )
        assert total == r["adc_dist"]


def test_keyword_pagerank_survives_one_token_docs(spark, sf_dir):
    """A 0/1-token document must not crash the adjacency build (Spark's
    sequence(1, m) runs DESCENDING for m < 1 and element_at would throw);
    short docs are filtered out, matching the oracle's empty range."""
    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.operators.graph import pagerank
    from json_format_in_parquet_benchmark_spark.plans.queries_graph import (
        KW_MIN_LEN,
    )
    from json_format_in_parquet_benchmark_spark.runtime import release_caches

    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "alpha beta alpha gamma beta")],
        "doc_id long, text string",
    )
    # replicate the query's adjacency pipeline on the hostile frame
    toks = "split(text, ' ')"
    adj = (
        docs.where(F.expr(f"size(filter({toks}, x -> x != '')) >= 2"))
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, size({toks}) - 1),"
                    f" i -> struct(element_at({toks}, i) as a,"
                    f" element_at({toks}, i + 1) as b))"
                )
            ).alias("pair")
        )
        .select("pair.a", "pair.b")
        .where(
            (F.length("a") >= KW_MIN_LEN)
            & (F.length("b") >= KW_MIN_LEN)
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )
    und = adj.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    edges = und.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    ranks = pagerank(edges, n_iters=2).collect()
    release_caches()
    assert {r["node"] for r in ranks} == {"alpha", "beta", "gamma"}


def test_skyline_matches_bruteforce_domination(spark, sf_dir):
    """The window-based skyline must equal the O(n^2) NOT-EXISTS
    definition computed directly over the distinct pairs."""
    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.plans import REGISTRY
    from json_format_in_parquet_benchmark_spark.tables import load_table

    part = load_table(spark, sf_dir, "part")
    pairs = [
        (r["price"], r["psize"])
        for r in part.select(
            F.col("p_retailprice").alias("price"), F.col("p_size").alias("psize")
        )
        .distinct()
        .collect()
    ]
    brute = {
        (p, s)
        for p, s in pairs
        if not any(
            (p2 <= p and s2 <= s and (p2 < p or s2 < s)) for p2, s2 in pairs
        )
    }
    got = {
        (r["price"], r["psize"])
        for r in REGISTRY["parts_skyline_cheap_small"].fn(spark, sf_dir).collect()
    }
    assert got == brute and got


def test_cusum_walk_ends_at_zero(spark, sf_dir):
    """sum over a user's events of (n*y_i - sum_y) telescopes to exactly 0,
    so every user's FULL cusum walk must end at 0 -- a strong invariant of
    the division-free formulation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts)").alias("us"),
        "event_id",
        F.expr("cast(floor(value * 100) as bigint)").alias("yc"),
    )
    stats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("yc").cast("bigint").alias("sy"),
    )
    finals = (
        ev.join(stats, "user_id")
        .groupBy("user_id")
        .agg(F.sum(F.expr("n * yc - sy")).alias("final"))
        .where(F.col("final") != 0)
        .count()
    )
    assert finals == 0


def test_top_paths_preserve_event_counts(spark, sf_dir):
    """Every user-day path's arrow-separated length equals that day's event
    count -- the assembly loses or reorders nothing."""
    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    paths = (
        events.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.struct(
                F.expr("unix_micros(ts)").alias("us"),
                F.col("event_id").alias("eid"),
                F.col("event_type").alias("et"),
            ).alias("z"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.expr(
                "concat_ws('>', transform(array_sort(collect_list(z)),"
                " x -> x.et))"
            ).alias("path"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    bad = paths.where(
        F.expr("size(split(path, '>')) != n_events")
    ).count()
    assert bad == 0


def test_power_iteration_tracks_float_reference(spark, sf_dir):
    """The integer power iteration (floor renormalization each step) must
    stay within rounding distance of the exact float iterate of the same
    step count -- validates the integer arithmetic, independent of how
    converged t steps are on this (near-isotropic, slow-converging)
    synthetic corpus."""
    import numpy as np

    from json_format_in_parquet_benchmark_spark.plans.queries_embedding_stats import (
        AUG,
        GRID,
        PCA_ITERS,
        V0,
        _power_iteration,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = [r["embedding"] for r in emb.select("embedding").collect()]
    x = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
    q = np.floor(x * float(GRID)).astype(np.int64)
    a = np.concatenate([np.ones((len(q), 1), dtype=np.int64), q], axis=1)
    s = a.T @ a
    rows = [(i, j, int(s[i, j])) for i in range(AUG) for j in range(i, AUG)]
    v_int = np.array(_power_iteration(rows), dtype=np.float64)

    n = len(q)
    cov = (n * (q.T @ q) - np.outer(q.sum(0), q.sum(0))).astype(np.float64)
    v_ref = np.full(64, float(V0))
    for _ in range(PCA_ITERS):
        w = cov @ v_ref
        v_ref = w / (np.abs(w).max() / 1e6)
    cos = abs(v_int @ v_ref) / (
        np.linalg.norm(v_int) * np.linalg.norm(v_ref)
    )
    assert cos > 0.9999, cos


def test_gram_matrix_matches_numpy(spark, sf_dir):
    """The distributed mapInPandas gram reduction equals a single-process
    numpy computation exactly (integer domain, no tolerance)."""
    import numpy as np

    from json_format_in_parquet_benchmark_spark.plans.queries_embedding_stats import (
        AUG,
        GRID,
        gram_matrix,
    )

    got = {
        (r["i"], r["j"]): r["s"]
        for r in gram_matrix(load_table(spark, sf_dir, "embeddings")).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = [r["embedding"] for r in emb.select("embedding").collect()]
    x = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
    q = np.floor(x * float(GRID)).astype(np.int64)
    a = np.concatenate([np.ones((len(q), 1), dtype=np.int64), q], axis=1)
    s = a.T @ a
    assert len(got) == AUG * (AUG + 1) // 2
    for (i, j), v in got.items():
        assert v == int(s[i, j]), (i, j)


def test_matryoshka_recall_bounded_and_self_consistent(spark, sf_dir):
    """Recall of the full-dimension arm against itself is 1.0 by
    construction; the truncated arm's recall must be in [0, 1] with
    k_true == TOP_K per query."""
    from json_format_in_parquet_benchmark_spark.plans import REGISTRY
    from json_format_in_parquet_benchmark_spark.plans.queries_similarity import (
        TOP_K,
    )

    rows = REGISTRY["similarity_matryoshka_recall"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["k_true"] == TOP_K
        assert 0.0 <= r["recall"] <= 1.0


def test_fuzzy_block_join_complete_on_corpus(spark, sf_dir):
    """The affix blocking of join_fuzzy_part_names must not lose any pair
    the brute-force (unblocked) lev<=2 join finds on the actual corpus."""
    from json_format_in_parquet_benchmark_spark.plans import REGISTRY

    blocked = {
        (r["name_a"], r["name_b"], r["edit_dist"])
        for r in REGISTRY["join_fuzzy_part_names"].fn(spark, sf_dir).collect()
    }
    names = (
        load_table(spark, sf_dir, "part").select("p_name").distinct()
    )
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    brute = {
        (r["name_a"], r["name_b"], r["edit_dist"])
        for r in a.join(b, F.col("name_a") < F.col("name_b"))
        .withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b").cast("bigint")
        )
        .where(F.col("edit_dist") <= 2)
        .collect()
    }
    assert blocked == brute
    assert brute  # nonempty on the testdata


def test_phash_nn_matches_bruteforce_within_radius(spark, sf_dir):
    """Full-recall pin for the banded pHash blocking: wherever the
    brute-force nearest Hamming neighbor is within PHASH_MAX_HAMMING, the
    banded plan must have found a neighbor at that exact distance
    (pigeonhole over 4 bands and Hamming <= 3 guarantees it)."""
    from json_format_in_parquet_benchmark_spark.operators.multimodal import (
        PHASH_MAX_HAMMING,
        media_table,
        phash_features,
        phash_nearest_neighbor,
    )

    media = media_table(load_table(spark, sf_dir, "documents"))
    feats = phash_features(media)
    nn = {
        r["media_id"]: r["nn_hamming"]
        for r in phash_nearest_neighbor(feats).collect()
    }
    sigs = [(r["media_id"], r["phash"]) for r in feats.collect()]
    checked = 0
    for i, (mid, ph) in enumerate(sigs):
        best = min(
            (bin(ph ^ other).count("1") for j, (_, other) in enumerate(sigs) if j != i),
            default=None,
        )
        if best is not None and best <= PHASH_MAX_HAMMING:
            assert nn[mid] == best, (mid, nn[mid], best)
            checked += 1
    assert checked > 0, "corpus produced no within-radius pair; test is vacuous"


def test_bloom_prefilter_has_no_false_negatives(spark, sf_dir):
    """The Bloom pre-filter may only ever DROP non-matching fact rows: the
    bloom-prefiltered join must keep exactly the rows of the plain join."""
    from json_format_in_parquet_benchmark_spark.plans.queries_relational import (
        join_bloom_prefilter,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    plain = (
        li.join(
            orders.where(F.col("o_orderpriority") == "1-URGENT"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()[0]["n"]
    )
    bloomed = (
        join_bloom_prefilter(spark, sf_dir).agg(F.sum("n_items")).collect()[0][0]
    )
    assert bloomed == plain


def test_substring_spans_on_planted_passages(spark):
    """Exact-substring dedup invariants on a crafted corpus: a passage
    shared by two docs (at different offsets) yields exactly one maximal
    span of exactly the passage length in each; a string repeated only
    WITHIN one doc is not flagged (cross-doc policy); a doc with a
    disjoint alphabet is absent."""
    from json_format_in_parquet_benchmark_spark.operators.dedup import (
        substring_dup_spans,
    )

    L = 10
    passage = "zyxwvutsrqponmlkjihgfedcb"  # 25 chars, disjoint from junk
    docs = spark.createDataFrame(
        [
            (0, "0123456789012345" + passage + "5432109876"),
            (1, "ABCDEFGHIJKLMNOP" + passage + "QRSTUVWXYZABCD"),
            (2, "aabb" * 12),  # shares nothing cross-doc
            (3, "@@##$$%%&&**" * 4),  # internal repeats only
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in substring_dup_spans(docs, "text", "doc_id", anchor_len=L).collect()
    }
    assert set(rows) == {0, 1}, f"only the passage-sharing docs flag: {rows}"
    for d in (0, 1):
        assert rows[d]["n_dup_spans"] == 1
        # every L-window inside the 25-char passage is shared, so the
        # merged island is exactly the passage
        assert rows[d]["dup_chars"] == len(passage)
        assert rows[d]["kept_chars"] == rows[d]["n_chars"] - len(passage)


def test_substring_spans_strided_is_offset_invariant(spark):
    """Content-defined anchor sampling (anchor_stride > 1) must select the
    SAME windows in both copies of a shared passage regardless of byte
    offset: on a passage long enough to guarantee >= 1 selected anchor,
    both docs flag a span inside the passage, identical in length in both
    docs, never longer than the passage, and never extending into the
    disjoint-junk flanks."""
    from json_format_in_parquet_benchmark_spark.operators.dedup import (
        substring_dup_islands,
    )

    L, stride = 10, 4
    # 120-char shared passage: ~111 windows, P(no anchor) = (3/4)^111 ~ 0
    passage = "".join(
        "zyxwvutsrq"[(i * 7 + 3) % 10] + "ponmlkjihg"[(i * 11 + 5) % 10]
        for i in range(60)
    )
    docs = spark.createDataFrame(
        [
            (0, "0123456789012345" + passage + "5432109876"),
            (1, "ABCDEFGHIJKLMNOPQRS" + passage + "QRSTUVWXYZABCD"),
            (2, "aabb" * 40),
        ],
        "doc_id long, text string",
    )
    spans = {
        r["doc_id"]: (r["s"], r["e"])
        for r in substring_dup_islands(
            docs, "text", "doc_id", anchor_len=L, anchor_stride=stride
        ).collect()
    }
    assert set(spans) == {0, 1}, f"both passage docs must flag: {spans}"
    starts = {0: 17, 1: 20}  # 1-based passage start per doc
    lengths = set()
    for d, (s, e) in spans.items():
        lo, hi = starts[d], starts[d] + len(passage) - 1
        assert lo <= s <= e <= hi, f"doc {d}: span [{s},{e}] outside passage"
        lengths.add(e - s + 1)
    # offset invariance: identical selected anchors => identical span length
    assert len(lengths) == 1, f"span lengths differ across docs: {spans}"


def test_bpe_trainer_matches_python_reference(spark):
    """The distributed BPE loop must reproduce a straightforward in-memory
    BPE trainer (greedy leftmost merge, argmax by count then pair order)
    on a crafted word-frequency table, including the 'aaaa' overlap case
    where leftmost non-overlapping application is what defines BPE."""
    from json_format_in_parquet_benchmark_spark.plans.queries_text import (
        bpe_train_merges,
    )

    words = {"aaaa": 3, "aaab": 2, "abab": 4, "banana": 5, "bb": 1}
    rounds = 5

    # pure-Python reference
    vocab = {tuple(w): c for w, c in words.items()}
    expect = []
    for r in range(1, rounds + 1):
        counts: dict = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get(
                    (syms[i], syms[i + 1]), 0
                ) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (lft, rgt), pc = best
        expect.append((r, lft, rgt, lft + rgt, pc))
        new_vocab: dict = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lft and syms[i + 1] == rgt:
                    out.append(lft + rgt)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab

    wdf = spark.createDataFrame(list(words.items()), "w string, c long")
    got = [
        (r["merge_round"], r["lft"], r["rgt"], r["merged"], r["pair_count"])
        for r in bpe_train_merges(wdf, rounds=rounds).collect()
    ]
    assert got == expect, f"\nspark: {got}\nref:   {expect}"


def test_bpe_oracle_degenerate_corpus_parity(spark, tmp_path):
    """Regression: on a corpus with fewer distinct merges than
    BPE_MERGE_ROUNDS, the DuckDB encode oracle's per-round vocab CTE must
    NOT empty out (the old cross join against an empty best{r} zeroed the
    oracle while the Spark builder stops merging early and still
    tokenizes every word).  Both engines must agree on the 1-merge 'ab'
    corpus."""
    import duckdb

    from json_format_in_parquet_benchmark_spark.plans.queries_text import (
        _bpe_encode_oracle,
    )
    from json_format_in_parquet_benchmark_spark.plans import REGISTRY

    docs = spark.createDataFrame(
        [(1, "ab ab", "en", "web", 5), (2, "ab", "en", "web", 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = sorted(
        (r["doc_id"], r["n_words"], r["n_bpe_tokens"])
        for r in REGISTRY["text_bpe_encode_corpus"].fn(spark, str(tmp_path)).collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path}/documents.parquet/*.parquet')"
    )
    want = sorted(tuple(t) for t in con.execute(_bpe_encode_oracle()).fetchall())
    assert want, "oracle must not be empty on a degenerate corpus"
    assert got == want, f"\nspark:  {got}\noracle: {want}"


def test_clip_pairing_separates_pos_from_neg(spark, sf_dir):
    """The CLIP-stub alignment gate must genuinely discriminate: positive
    (media, own-caption) pairs score near 1 and every one clears the 3/4
    gate; mismatched pairs average far below."""
    from json_format_in_parquet_benchmark_spark.plans import REGISTRY

    rows = REGISTRY["multimodal_clip_pairing"].fn(spark, sf_dir).collect()
    pos = [r for r in rows if r["pair_type"] == "pos"]
    neg = [r for r in rows if r["pair_type"] == "neg"]
    assert pos and neg
    assert all(r["aligned"] == 1 for r in pos)
    mean_pos = sum(r["cos_sim"] for r in pos) / len(pos)
    mean_neg = sum(r["cos_sim"] for r in neg) / len(neg)
    assert mean_pos > 0.9
    assert mean_neg < mean_pos - 0.25, (mean_pos, mean_neg)


def test_substring_census_agrees_with_remove(spark, sf_dir):
    """Cross-operator invariant: the span census's kept_chars must equal
    the remove transform's actual cleaned-text length for every flagged
    doc, and unflagged docs must pass through at full length."""
    from json_format_in_parquet_benchmark_spark.plans import REGISTRY

    census = {
        r["doc_id"]: r
        for r in REGISTRY["dedup_substring_exact"].fn(spark, sf_dir).collect()
    }
    removed = {
        r["doc_id"]: r
        for r in REGISTRY["dedup_substring_remove"].fn(spark, sf_dir).collect()
    }
    docs = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    assert set(removed) == set(docs)
    for d, row in removed.items():
        if d in census:
            assert row["kept_chars"] == census[d]["kept_chars"], d
        else:
            assert row["kept_chars"] == docs[d], d


def test_ivf_append_never_rewrites_base_files(spark, sf_dir, tmp_path_factory):
    """Incremental IVF maintenance contract: appending the batch into the
    hive layout adds files only -- every file written for the base index
    is still present (same path, same size) after the append."""
    import glob
    import os
    import shutil

    from json_format_in_parquet_benchmark_spark.plans import (
        queries_similarity as qs,
    )

    out = os.path.join(str(tmp_path_factory.mktemp("ivfapp")), "idx")

    # replicate ivf_append_path's two writes with a hook between them
    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.functions.hashing import (
        hash64_sql_spark,
    )
    from json_format_in_parquet_benchmark_spark.operators.similarity import (
        ivf_assign,
    )
    from json_format_in_parquet_benchmark_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = (
        F.expr(hash64_sql_spark("cast(vec_id as string)", salt="ivfapp:"))
        % qs.IVF_APPEND_MOD
        == qs.IVF_APPEND_MOD - 1
    )
    for arriving, mode in ((False, "overwrite"), (True, "append")):
        part = emb.where(is_batch if arriving else ~is_batch)
        assign = ivf_assign(part, "embedding", "vec_id", qs.N_CELLS, qs.DIM)
        (
            part.select("vec_id", "embedding")
            .join(assign, "vec_id")
            .write.mode(mode)
            .partitionBy("cell")
            .parquet(out)
        )
        if not arriving:
            base_files = {
                p: os.path.getsize(p)
                for p in glob.glob(os.path.join(out, "**", "*.parquet"),
                                   recursive=True)
            }
    after = {
        p: os.path.getsize(p)
        for p in glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
    }
    assert base_files
    for p, sz in base_files.items():
        assert p in after and after[p] == sz, f"base file rewritten: {p}"
    assert len(after) > len(base_files), "append added no files"
    shutil.rmtree(out, ignore_errors=True)


def test_backfill_touches_only_target_partition(spark, sf_dir, tmp_path_factory):
    """Dynamic-partition-overwrite backfill contract: only the target
    day's directory is rewritten -- every other partition's files
    survive the backfill byte-identically (same paths, same sizes)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.tables import load_table

    out = os.path.join(str(tmp_path_factory.mktemp("backfill")), "events")
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    events.write.mode("overwrite").partitionBy("day").parquet(out)
    snapshot = {
        p: os.path.getsize(p)
        for p in glob.glob(os.path.join(out, "day=*", "*.parquet"))
    }
    target = events.agg(F.min("day")).first()[0]
    corrected = events.where(F.col("day") == target).withColumn(
        "value", F.expr("cast(cast(value as decimal(18,2)) + 1 as double)")
    )
    with scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        corrected.write.mode("overwrite").partitionBy("day").parquet(out)
    after = {
        p: os.path.getsize(p)
        for p in glob.glob(os.path.join(out, "day=*", "*.parquet"))
    }
    untouched = {p for p in snapshot if f"day={target}" not in p}
    assert untouched
    for p in untouched:
        assert p in after and after[p] == snapshot[p], f"rewritten: {p}"
    changed = {p for p in snapshot if f"day={target}" in p}
    assert changed and not (changed & set(after)), "target day not rewritten"


def test_parquet_bloom_prunes_absent_key(spark, sf_dir):
    """Physical contract of sink_parquet_bloom_lookup: the bloom layout
    stores a filter in every row group, the plain layout stores none, and
    a definitely-absent key is bloom-rejected by EVERY row group (the
    pruning a point lookup on a missing key buys); a present key is
    might-contained by at least one (no false negatives)."""
    import hashlib

    from json_format_in_parquet_benchmark_spark.plans import REGISTRY
    from json_format_in_parquet_benchmark_spark.plans.queries_sinks import (
        _read_bloom_stats,
    )
    from json_format_in_parquet_benchmark_spark.runtime import scratch_dir
    from json_format_in_parquet_benchmark_spark.tables import load_table

    # Build (and value-check) both layouts via the registered query.
    REGISTRY["sink_parquet_bloom_lookup"].fn(spark, sf_dir).collect()
    bloom_out = scratch_dir(sf_dir, "events_bloomkey_bloom")
    plain_out = scratch_dir(sf_dir, "events_bloomkey_plain")

    uid = load_table(spark, sf_dir, "events").select("user_id").first()[0]
    present = hashlib.md5(str(uid).encode()).hexdigest()
    absent = "0" * 32  # not an md5 of any decimal string in the table

    n_rg, n_bloom, n_hits = _read_bloom_stats(
        spark, bloom_out, "user_key", [present, absent]
    )
    assert n_rg > 0 and n_bloom == n_rg, "bloom filter missing from footers"
    # absent key: zero might-contains expected (fp ~1e-12/pair); present
    # key: exactly one (hash partitioning routes a user to one file).
    assert n_hits == 1, f"expected 1 might-contain row group, got {n_hits}"

    p_rg, p_bloom, _ = _read_bloom_stats(spark, plain_out, "user_key", [])
    assert p_rg > 0 and p_bloom == 0, "plain layout unexpectedly has blooms"


def test_gdpr_erasure_minimal_rewrite(spark, sf_dir, tmp_path_factory):
    """Erasure contract (within one run, like the backfill test): day
    partitions the target user never touched keep their files
    byte-identically through the erase; every affected-and-kept day is
    rewritten; sole-writer days are cleared; the target is absent."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.tables import load_table

    out = os.path.join(str(tmp_path_factory.mktemp("gdpr")), "events")
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    events.write.mode("overwrite").partitionBy("day").parquet(out)
    snapshot = {
        p: os.path.getsize(p)
        for p in glob.glob(os.path.join(out, "day=*", "*.parquet"))
    }

    target = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .first()["user_id"]
    )
    back = spark.read.parquet(out).withColumn(
        "day", F.col("day").cast("string")
    )
    affected = sorted(
        r["day"]
        for r in back.where(F.col("user_id") == target)
        .select("day")
        .distinct()
        .collect()
    )
    assert affected
    remaining = back.where(
        F.col("day").isin(affected) & (F.col("user_id") != target)
    )
    kept_days = {
        r["day"] for r in remaining.select("day").distinct().collect()
    }
    with scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        remaining.write.mode("overwrite").partitionBy("day").parquet(out)
    for day in affected:
        if day not in kept_days:
            shutil.rmtree(
                os.path.join(out, f"day={day}"), ignore_errors=True
            )

    after = {
        p: os.path.getsize(p)
        for p in glob.glob(os.path.join(out, "day=*", "*.parquet"))
    }
    untouched = {
        p for p in snapshot if not any(f"day={d}" in p for d in affected)
    }
    for p in untouched:
        assert p in after and after[p] == snapshot[p], f"rewritten: {p}"
    for d in kept_days:
        olds = {p for p in snapshot if f"day={d}" in p}
        assert olds and not (olds & set(after)), f"day {d} not rewritten"
    for d in set(affected) - kept_days:
        assert not os.path.exists(os.path.join(out, f"day={d}"))

    cleaned = spark.read.parquet(out)
    assert cleaned.where(F.col("user_id") == target).count() == 0


def test_dp_noise_distribution_centered(duck):
    """Pins the geometric-mechanism sampler of dq_dp_noisy_counts
    independently of the cross-engine gate (which would reproduce a
    shared off-by-one): over 20k hash-derived uniforms the sampled
    discrete-Laplace noise must be centered (|mean| < 0.05) with
    P(noise = 0) near (1-a)/(1+a) = 0.462 at eps = 1.  Regression for
    the count-minus-128 off-by-one (E[noise] was exactly -1)."""
    from json_format_in_parquet_benchmark_spark.plans.queries_relational import (
        _DP_T,
        _DP_ALPHA,
    )

    rows = duck.sql(
        f"""
WITH keys AS (SELECT 'k' || i AS s FROM range(20000) t(i)),
u AS (SELECT ('0x' || substr(md5(s), 1, 15))::BIGINT AS u FROM keys)
SELECT AVG(noise) AS mean_noise,
       AVG(CASE WHEN noise = 0 THEN 1.0 ELSE 0.0 END) AS p0
FROM (SELECT len(list_filter([{_DP_T}], t -> t <= u)) - 127 AS noise
      FROM u)
"""
    ).fetchall()[0]
    mean_noise, p0 = rows
    expected_p0 = (1.0 - _DP_ALPHA) / (1.0 + _DP_ALPHA)
    assert abs(mean_noise) < 0.05, mean_noise
    assert abs(p0 - expected_p0) < 0.03, (p0, expected_p0)


def test_holt_winters_matches_python_reference(spark, sf_dir):
    """The registered Holt-Winters fold must reproduce a straightforward
    pure-Python walk of the same recurrence (alpha=beta=gamma=1/4 floor
    divisions, 7-slot zero-initialized seasonal array) over the actual
    daily series -- pinning the fold independently of the DuckDB oracle
    (which could share a transcription bug)."""
    from json_format_in_parquet_benchmark_spark.plans.queries_timeseries import (
        HW_PERIOD,
        SES_P,
        events_forecast_holt_winters,
    )

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("unix_micros(date_trunc('day', ts)) div 86400000000").alias(
                "day"
            ),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
        )
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["day"], r["cents"]))
    expect = {}
    for et, pts in series.items():
        xs = [c for _, c in sorted(pts)]
        def tmod(a: int, p: int) -> int:
            # truncated %, matching Spark/DuckDB sign semantics (Python's
            # % floors; differs when chk + lvl goes negative)
            return a - int(a / p) * p

        lvl, trd, s, chk = xs[0], 0, [0] * HW_PERIOD, 0
        for k in range(1, len(xs)):
            pos = k % HW_PERIOD
            x = xs[k]
            chk = tmod(chk + lvl, SES_P)
            l_new = ((x - s[pos]) + 3 * (lvl + trd)) // 4
            b_new = (l_new - lvl + 3 * trd) // 4
            s[pos] = ((x - l_new) + 3 * s[pos]) // 4
            lvl, trd = l_new, b_new
        pos = len(xs) % HW_PERIOD
        expect[et] = (
            len(xs), lvl, trd, s[pos], lvl + trd + s[pos], sum(s),
            tmod(chk + lvl, SES_P),
        )
    got = {
        r["event_type"]: (
            r["n_days"], r["level_cents"], r["trend_cents"],
            r["season_next_cents"], r["forecast_next_cents"],
            r["season_sum_cents"], r["path_checksum"],
        )
        for r in events_forecast_holt_winters(spark, sf_dir).collect()
    }
    assert got == expect


def test_theil_sen_ignores_outlier_day(spark, tmp_path):
    """On a crafted per-user series that is an exact line (one more event
    each day) plus one wild outlier day, the Theil-Sen slope must stay at
    the line's slope (median of pairwise slopes; breakdown point ~29%)
    where OLS would be dragged.  Also cross-checks the slope against a
    pure-Python median of all pairwise slopes."""
    from json_format_in_parquet_benchmark_spark.plans.queries_timeseries import (
        events_theil_sen,
    )

    rows = []
    eid = 0
    for day in range(10):
        n = 100 if day == 9 else day + 1  # line y=day+1, day 9 is the outlier
        for _ in range(n):
            rows.append((eid, 0, day * 86_400_000_000))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, us long")
    sf = str(tmp_path / "ts_sf")
    df.selectExpr(
        "event_id", "timestamp_micros(us) as ts", "user_id",
        "'view' as event_type", "1.0 as value", "'{}' as props"
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")

    ys = {d: (100 if d == 9 else d + 1) for d in range(10)}
    slopes = sorted(
        (ys[j] - ys[i]) / (j - i) for i in range(10) for j in range(i + 1, 10)
    )
    n = len(slopes)
    expect = (slopes[(n + 1) // 2 - 1] + slopes[(n + 2) // 2 - 1]) / 2.0

    out = events_theil_sen(spark, sf).collect()
    assert len(out) == 1
    assert out[0]["slope"] == expect
    assert abs(out[0]["slope"] - 1.0) < 0.35  # robust: far from the OLS pull


def test_sq8_reconstruction_error_bounded(spark, sf_dir):
    """SQ8 midpoint reconstruction must stay within one quantization cell
    of the original on every dimension: |x - xhat| <= (mx - mn)/128 (the
    255-cell code grid and the /256 midpoint de-quantization differ by
    under half a cell).  Pins the encode/reconstruct pipeline
    independently of the recall query's ranking."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("embedding").collect()
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mn, mx = x.min(axis=0), x.max(axis=0)
    rng = mx - mn
    codes = np.clip(
        np.floor(
            np.divide(
                (x - mn) * 255.0, rng, out=np.zeros_like(x), where=rng > 0
            )
        ),
        0, 255,
    )
    xhat = mn + (codes + 0.5) * rng / 256.0
    err = np.abs(x - xhat)
    assert (err <= rng / 128.0 + 1e-12).all(), err.max()


def test_dsir_prefers_target_like_documents(spark, tmp_path):
    """A non-target-language document written in the TARGET slice's
    vocabulary must outscore documents written in the off-target
    vocabulary -- the defining property of importance resampling.  Also
    pins the Laplace-smoothing fix: a corpus with NO target-slice
    documents at all must run (finite uniform ratios), not overflow."""
    from json_format_in_parquet_benchmark_spark.plans.queries_text import (
        sample_dsir_importance,
    )

    def stage(rows, name):
        sf = str(tmp_path / name)
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
        return sf

    a_text = "alpha beta gamma delta epsilon zeta eta theta"
    b_text = "one two three four five six seven eight"
    rows = [(i, a_text, "en") for i in range(30)]
    rows += [(100 + i, b_text, "xx") for i in range(60)]
    rows.append((999, a_text, "xx"))  # target-like impostor
    sf = stage(rows, "dsir_sf")
    picked = sample_dsir_importance(spark, sf).collect()
    by_lang = {r["lang"]: r for r in picked}
    # top-50 = all 30 'en' docs + the impostor + 19 of the 'xx' filler;
    # the impostor must score like the 'en' docs (vocabulary decides).
    assert by_lang["en"]["n_docs"] == 30
    assert by_lang["xx"]["max_score"] == by_lang["en"]["max_score"]

    no_target = stage([(i, b_text, "xx") for i in range(20)], "dsir_nt_sf")
    out = sample_dsir_importance(spark, no_target).collect()
    assert sum(r["n_docs"] for r in out) == 20  # ran, finite, all picked


def test_stl_decomposition_identity_and_centering(spark, sf_dir):
    """The decomposition must satisfy y = trend + seasonal + residual on
    every emitted row (exactly, by construction of residual), emit only
    days with a complete centered 7-day window, and produce seasonal
    indices whose distinct-position sum is ~zero (the centering step)."""
    from json_format_in_parquet_benchmark_spark.plans.queries_timeseries import (
        events_stl_decompose,
    )

    rows = events_stl_decompose(spark, sf_dir).collect()
    assert rows, "decomposition emitted nothing"
    days = sorted(r["day"] for r in rows)
    all_days = set(range(min(days) - 3, max(days) + 4))
    # complete-window filter: emitted days exclude the 3-day edges
    assert len(days) == len(set(days)) == len(all_days) - 6
    for r in rows:
        assert abs(r["y"] - (r["trend"] + r["seasonal"] + r["residual"])) < 1e-9
    seas = {r["dow"]: r["seasonal"] for r in rows}
    assert abs(sum(seas.values())) < 1e-9


def test_audio_fingerprint_refinds_source_clip(spark, sf_dir):
    """Every clipped query excerpt must re-find an item with its own
    payload (identical text => identical landmarks; ties go to the lowest
    media_id) at time offset 8 (the excerpt start), with the full
    42-landmark excerpt matched -- the clip-invariance property that
    defines constellation hashing."""
    from json_format_in_parquet_benchmark_spark.plans.queries_multimodal import (
        multimodal_audio_fingerprint,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    out = multimodal_audio_fingerprint(spark, sf_dir).collect()
    assert out, "no query rows"
    for r in out:
        assert r["time_offset"] == 8, r
        assert docs[r["matched_id"]] == docs[r["query_id"]], r
        # 16-frame excerpt -> anchors 8..22 with dt<=3 capped at frame 23:
        # 15 anchors x 3 - (2 + 1) boundary losses = 42 landmarks
        assert r["n_matched"] == 42, r


def test_hmm_viterbi_matches_python_backpointer_reference(spark, sf_dir):
    """The fold's running path checksum must equal the checksum of the TRUE
    Viterbi path reconstructed through explicit backpointers in pure
    Python -- proving the running-hash trick tracks the argmax path
    exactly (scores alone could agree while paths diverged)."""
    from json_format_in_parquet_benchmark_spark.plans.queries_timeseries import (
        HMM_E,
        HMM_P,
        HMM_STATES,
        HMM_T,
        HMM_USERS,
        events_hmm_viterbi,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < HMM_USERS)
        .selectExpr("user_id", "unix_micros(ts) as us", "event_id",
                    "event_type")
        .collect()
    )
    seqs: dict = {}
    for r in ev:
        seqs.setdefault(r["user_id"], []).append(
            (r["us"], r["event_id"], r["event_type"])
        )
    expect = {}
    for uid, rows in seqs.items():
        obs = [o for _, _, o in sorted(rows)]
        dp = {j: HMM_E[j].get(obs[0], -1000) for j in HMM_STATES}
        bp: list = []  # bp[t][j] = argmax predecessor
        for o in obs[1:]:
            nxt, ptrs = {}, {}
            for j in HMM_STATES:
                best_i = max(
                    HMM_STATES, key=lambda i: (dp[i] + HMM_T[i][j], -i)
                )
                nxt[j] = (dp[best_i] + HMM_T[best_i][j]
                          + HMM_E[j].get(o, -1000))
                ptrs[j] = best_i
            dp, _ = nxt, bp.append(ptrs)
        final = max(HMM_STATES, key=lambda j: (dp[j], -j))
        # reconstruct the path backward, then recompute the running hash
        path = [final]
        for ptrs in reversed(bp):
            path.append(ptrs[path[-1]])
        path.reverse()
        chk = path[0]
        for s in path[1:]:
            chk = (chk * 31 + s) % HMM_P
        expect[uid] = (len(obs), final, dp[final], chk)
    got = {
        r["user_id"]: (
            r["n_events"], r["best_state"], r["score_q"], r["path_checksum"]
        )
        for r in events_hmm_viterbi(spark, sf_dir).collect()
    }
    assert got == expect


def test_offpolicy_ips_matches_python_reference(spark, sf_dir):
    """IPS/SNIPS/ESS recomputed in pure Python from the raw events must
    equal the registered aggregate exactly -- pinning the estimator
    independently of the DuckDB oracle's SQL transcription (hash
    assignment, 420-grid weights, and the one-division estimates)."""
    import hashlib as hl

    from json_format_in_parquet_benchmark_spark.plans.queries_relational import (
        IPS_VIEW_CUT,
        events_offpolicy_ips,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .selectExpr(
            "user_id", "event_type", "cast(round(value * 100) as bigint) c"
        )
        .collect()
    )
    users: dict = {}
    for r in ev:
        y, v = users.get(r["user_id"], (0, 0))
        users[r["user_id"]] = (
            y + (r["c"] if r["event_type"] == "purchase" else 0),
            v + (1 if r["event_type"] == "view" else 0),
        )

    def h(s: str) -> int:
        return int(hl.md5(s.encode()).hexdigest()[:15], 16)

    n = len(users)
    s_m = s_num = s_w = s_w2 = 0
    for uid, (y, views) in users.items():
        k = 1 + h(f"prop:{uid}") % 6
        t = 1 if h(f"t:{uid}") % 8 < k else 0
        pi_new = 1 if views >= IPS_VIEW_CUT else 0
        m = 1 if pi_new == t else 0
        w420 = 3360 // k if t == 1 else 3360 // (8 - k)
        s_m += m
        s_num += m * y * w420
        s_w += m * w420
        s_w2 += m * w420 * w420
    row = events_offpolicy_ips(spark, sf_dir).collect()[0]
    assert row["n_users"] == n
    assert row["n_matched"] == s_m
    assert row["ips_num_q"] == s_num
    assert row["w_sum_q"] == s_w
    assert row["ips_value_cents"] == s_num / (420.0 * n)
    assert row["snips_value_cents"] == s_num / s_w
    assert row["effective_sample_size"] == (float(s_w) * float(s_w)) / s_w2


def test_semantic_chunking_matches_python_and_splits_topics(spark, tmp_path):
    """On a crafted corpus, the integer cosine-dip chunker must (a) keep a
    single-topic document in ONE chunk, (b) split a document whose two
    halves share no vocabulary at exactly the topic seam, and (c) match
    a pure-Python implementation of the same definition on both."""
    from collections import Counter

    from json_format_in_parquet_benchmark_spark.plans.queries_text import (
        CHUNK_WIN,
        text_chunk_semantic,
    )

    topic_a = "alpha beta gamma delta " * 8  # 32 tokens, one topic
    two_topic = ("alpha beta gamma delta " * 4  # 16 tokens topic A
                 + "one two three four " * 4)  # 16 tokens topic B
    rows = [(0, topic_a.strip(), "en"), (1, two_topic.strip(), "en")]
    sf = str(tmp_path / "chunk_sf")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")

    def py_chunks(text: str):
        toks = text.split()
        wins = [
            toks[i : i + CHUNK_WIN] for i in range(0, len(toks), CHUNK_WIN)
        ]
        chunk, chunks, checksum = 0, 1, 0
        for i in range(1, len(wins)):
            c1, c2 = Counter(wins[i - 1]), Counter(wins[i])
            dot = sum(c1[t] * c2[t] for t in c1)
            n1 = sum(v * v for v in c1.values())
            n2 = sum(v * v for v in c2.values())
            if 4 * dot * dot < n1 * n2:
                chunk += 1
                chunks += 1
            checksum += (i + 1) * chunk
        return len(wins), chunks, checksum

    got = {r["doc_id"]: r for r in text_chunk_semantic(spark, sf).collect()}
    for doc_id, text, _ in rows:
        nw, nc, chk = py_chunks(text)
        r = got[doc_id]
        assert (r["n_windows"], r["n_chunks"], r["assign_checksum"]) == (
            nw, nc, chk,
        ), (doc_id, r)
    assert got[0]["n_chunks"] == 1  # one topic -> one chunk
    assert got[1]["n_chunks"] == 2  # vocabulary seam -> exactly two


def test_neyman_allocation_exact_and_matches_python(spark, sf_dir):
    """Seats must sum exactly to the budget, match a pure-Python
    largest-remainder allocation over floor(sqrt(N*sumsq - sum^2))
    weights, and each stratum's realized sample must be
    min(alloc, N_h) with the hash-rank prefix's id checksum."""
    import hashlib as hl
    import math

    from json_format_in_parquet_benchmark_spark.plans.queries_text import (
        NEYMAN_K,
        sample_neyman_allocation,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    ).collect()
    strata: dict = {}
    for r in docs:
        s, ss, n, ids = strata.get(r["lang"], (0, 0, 0, []))
        strata[r["lang"]] = (
            s + r["n_chars"], ss + r["n_chars"] ** 2, n + 1,
            ids + [r["doc_id"]],
        )
    w = {
        lg: math.floor(math.sqrt(float(n * ss - s * s)))
        for lg, (s, ss, n, _) in strata.items()
    }
    w_tot = sum(w.values())
    base = {lg: (NEYMAN_K * wh) // w_tot for lg, wh in w.items()}
    rem = {lg: (NEYMAN_K * wh) % w_tot for lg, wh in w.items()}
    leftover = NEYMAN_K - sum(base.values())
    order = sorted(w, key=lambda lg: (-rem[lg], lg))
    alloc = {
        lg: base[lg] + (1 if i < leftover else 0)
        for i, lg in enumerate(order)
    }
    got = {r["lang"]: r for r in sample_neyman_allocation(spark, sf_dir).collect()}
    assert sum(r["alloc"] for r in got.values()) == NEYMAN_K
    for lg, r in got.items():
        assert r["alloc"] == alloc[lg], (lg, r["alloc"], alloc[lg])
        n_h = strata[lg][2]
        assert r["n_sampled"] == min(r["alloc"], n_h)
        ids = sorted(
            strata[lg][3],
            key=lambda d: (hl.md5(f"ney:{d}".encode()).hexdigest(), d),
        )[: r["alloc"]]
        assert r["id_checksum"] == sum(ids)


def test_stl_residual_anomaly_median_mad_consistent(spark, sf_dir):
    """The emitted doubled-unit robust statistics must equal a pure-Python
    median/MAD over the same quantized residuals, and every flag must
    follow the 2*dev > 3*mad2x rule."""
    import math

    from json_format_in_parquet_benchmark_spark.plans.queries_timeseries import (
        events_anomaly_stl_residual,
    )

    rows = events_anomaly_stl_residual(spark, sf_dir).collect()
    assert rows
    rq = sorted(math.floor(r["residual"] * 1e6) for r in rows)
    n = len(rq)
    med2 = rq[(n + 1) // 2 - 1] + rq[(n + 2) // 2 - 1]
    devs = sorted(abs(2 * q - med2) for q in rq)
    mad2x = devs[(n + 1) // 2 - 1] + devs[(n + 2) // 2 - 1]
    for r in rows:
        dev = abs(2 * math.floor(r["residual"] * 1e6) - med2)
        assert r["dev2x"] == dev
        assert r["mad2x"] == mad2x
        assert r["is_anomaly"] == (1 if mad2x > 0 and 2 * dev > 3 * mad2x else 0)


def test_pack_shards_two_phase_equals_single_window(spark):
    """The scalable two-phase prefix-sum packer must reproduce the
    single-window shard ids BIT FOR BIT on data that actually exercises
    multiple buckets, uneven sizes, bucket-boundary crossings, empty
    buckets (id gaps), and multiple partition keys."""
    import random as _random

    from json_format_in_parquet_benchmark_spark.functions.windows import (
        pack_shard_spark,
        pack_shards_two_phase,
    )

    rng = _random.Random(7)
    rows = []
    for part in ("en", "de", "zh"):
        # sparse, gappy ids spanning many width-16 buckets
        ids = sorted(rng.sample(range(0, 2000), 400))
        for i in ids:
            rows.append((part, i, rng.randint(1, 50)))
    df = spark.createDataFrame(rows, "lang string, doc_id long, n long")

    want = {
        (r["lang"], r["doc_id"]): r["shard"]
        for r in df.withColumn(
            "shard", pack_shard_spark("lang", "doc_id", "n", 97)
        ).collect()
    }
    got = {
        (r["lang"], r["doc_id"]): r["shard"]
        for r in pack_shards_two_phase(
            df, "lang", "doc_id", "n", 97, bucket_width=16
        ).collect()
    }
    assert got == want
    assert len(set(want.values())) > 10  # many shards actually produced


def test_rank_two_phase_preserves_value_at_rank(spark):
    """The two-phase bucketed rank must agree with the single-window form
    on everything its consumers extract: the VALUE at each (part, rank)
    and the partition count -- including ties (equal values share a
    bucket, so rank assignment within a tie may permute but the value at
    any rank cannot), negative values (Spark `div` truncates toward zero
    but remains monotone), and ranks that cross bucket boundaries."""
    import random as _random

    from pyspark.sql import Window as _W

    from json_format_in_parquet_benchmark_spark.functions.windows import (
        rank_two_phase,
    )

    rng = _random.Random(11)
    rows = []
    for part in ("a", "b"):
        for i in range(500):
            # heavy ties + negatives, values spanning many width-16 buckets
            rows.append((part, i, rng.choice([-250, -17, 0, 3] + list(range(-300, 300, 7)))))
    df = spark.createDataFrame(rows, "part string, id long, v long")

    w = _W.partitionBy("part").orderBy("v")
    want = {}
    for r in (
        df.select(
            "part", "v",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(_W.partitionBy("part")).alias("n"),
        ).collect()
    ):
        want[(r["part"], r["rn"])] = (r["v"], r["n"])
    got = {}
    for r in rank_two_phase(df, "part", "v", bucket_width=16).collect():
        got[(r["part"], r["rn"])] = (r["v"], r["n"])
    assert got == want


def test_rank_two_phase_global_total_order_exact(spark):
    """The constant-partition-key GLOBAL form (customers_rfm_segments'
    recipe) with a deterministic tiebreak column must reproduce the
    single global ROW_NUMBER window EXACTLY per row -- not just
    value-at-rank: the (value, id) total order leaves no tie freedom, so
    rank ids must match bit for bit, which is what makes the converted
    RFM plan hash-identical to its unchanged single-window oracle."""
    import random as _random

    from pyspark.sql import Window as _W

    from json_format_in_parquet_benchmark_spark.functions.windows import (
        rank_two_phase,
    )

    rng = _random.Random(23)
    rows = [(i, rng.randrange(0, 40)) for i in range(800)]  # heavy ties
    df = spark.createDataFrame(rows, "id long, v long").withColumn(
        "_g", F.lit(0)
    )
    want = {
        r["id"]: (r["rn"], r["n"])
        for r in df.select(
            "id",
            F.row_number().over(_W.orderBy("v", "id")).alias("rn"),
            F.count(F.lit(1)).over(_W.partitionBy()).alias("n"),
        ).collect()
    }
    got = {
        r["id"]: (r["rn"], r["n"])
        for r in rank_two_phase(
            df, "_g", "v", order_extra=("id",), bucket_width=4
        ).collect()
    }
    assert got == want


def test_prefix_sum_two_phase_matches_single_window(spark):
    """The generalized exclusive prefix sum must equal the one-window
    form per row, with a deterministic (order, extra) total order,
    NEGATIVE order values (truncating `div` is monotone), ties straddling
    bucket boundaries, and multiple partitions."""
    import random as _random

    from pyspark.sql import Window as _W

    from json_format_in_parquet_benchmark_spark.functions.windows import (
        prefix_sum_two_phase,
    )

    rng = _random.Random(17)
    rows = []
    for part in ("a", "b"):
        for i in range(400):
            rows.append(
                (part, i, rng.choice([-64, -63, -1, 0, 1, 63, 64]
                                     + list(range(-200, 200, 13))),
                 rng.randrange(1, 50))
            )
    df = spark.createDataFrame(rows, "part string, id long, o long, sz long")
    w = (
        _W.partitionBy("part")
        .orderBy("o", "id")
        .rowsBetween(_W.unboundedPreceding, 0)
    )
    want = {
        (r["part"], r["id"]): r["pre"]
        for r in df.withColumn(
            "pre", F.sum("sz").over(w) - F.col("sz")
        ).collect()
    }
    got = {
        (r["part"], r["id"]): r["prefix"]
        for r in prefix_sum_two_phase(
            df, "part", "o", "sz", order_extra=("id",), bucket_width=32
        ).collect()
    }
    assert got == want


def test_rank_two_phase_tie_bucket_exact(spark):
    """The two-level decomposition for LOW-NDV values (tie_bucket): with
    bucket_width=1 and a second bucket over the deterministic tiebreak,
    the composed rank must equal the single global ROW_NUMBER window
    EXACTLY per row -- including tiebreak runs that straddle sub-bucket
    boundaries (tie width 8 over ids 0..799 forces ~100 sub-buckets per
    value)."""
    import random as _random

    from pyspark.sql import Window as _W

    from json_format_in_parquet_benchmark_spark.functions.windows import (
        rank_two_phase,
    )

    rng = _random.Random(31)
    rows = [(i, rng.randrange(0, 5)) for i in range(800)]  # NDV 5
    df = spark.createDataFrame(rows, "id long, v long").withColumn(
        "_g", F.lit(0)
    )
    want = {
        r["id"]: (r["rn"], r["n"])
        for r in df.select(
            "id",
            F.row_number().over(_W.orderBy("v", "id")).alias("rn"),
            F.count(F.lit(1)).over(_W.partitionBy()).alias("n"),
        ).collect()
    }
    got = {
        r["id"]: (r["rn"], r["n"])
        for r in rank_two_phase(
            df, "_g", "v", order_extra=("id",), bucket_width=1,
            tie_bucket=("id", 8),
        ).collect()
    }
    assert got == want
    # Misuse must fail loudly, not mis-rank quietly.
    import pytest as _pytest

    with _pytest.raises(TypeError, match="bucket_width=1"):
        rank_two_phase(
            df, "_g", "v", order_extra=("id",), bucket_width=2,
            tie_bucket=("id", 8),
        )
    with _pytest.raises(TypeError, match="order_extra"):
        rank_two_phase(
            df, "_g", "v", bucket_width=1, tie_bucket=("id", 8)
        )


def test_bottom_k_distinct_matches_naive_form(spark):
    """The per-partition bounded bottom-k pre-reduction must return
    EXACTLY the k smallest distinct hashes -- same set as the naive
    distinct->sort->limit -- including duplicates that straddle
    partitions, k larger than the NDV, and values around the k boundary
    (k-smallest-of-union of per-partition k-smallest sets is the
    estimator's own merge rule)."""
    from json_format_in_parquet_benchmark_spark.operators.sketches import (
        bottom_k_distinct,
    )

    # 40 distinct values, each duplicated 50x, scattered over 16 partitions
    vals = [((i * 2654435761) % 4096) for i in range(40)] * 50
    df = spark.createDataFrame(
        [(v,) for v in vals], "h long"
    ).repartition(16)
    for k in (8, 40, 100):  # below, at, and above the NDV
        want = [
            r["h"]
            for r in df.distinct().orderBy("h").limit(k).collect()
        ]
        got = sorted(r["h"] for r in bottom_k_distinct(df, k).collect())
        assert got == want, (k, got, want)


def test_two_phase_rejects_non_integral_and_expr_columns(spark):
    """The two-phase builders splice the value/order column into an
    integer `div` expression; misuse must fail with a clear TypeError,
    not a Catalyst analysis error (ADVICE r9)."""
    import pytest as _pytest

    from json_format_in_parquet_benchmark_spark.functions.windows import (
        pack_shards_two_phase,
        rank_two_phase,
    )

    df = spark.createDataFrame(
        [("a", 1, 1.5), ("a", 2, 2.5)], "part string, id long, x double"
    )
    with _pytest.raises(TypeError, match="integral"):
        rank_two_phase(df, "part", "x")
    with _pytest.raises(TypeError, match="not found"):
        rank_two_phase(df, "part", "missing")
    with _pytest.raises(TypeError, match="plain column name"):
        rank_two_phase(df, "part", "id + 1")
    with _pytest.raises(TypeError, match="integral"):
        pack_shards_two_phase(df, "part", "x", "id", 10)


def test_two_phase_rejects_nonpositive_widths(spark):
    """Zero/negative widths would make `div` yield NULL buckets silently
    under non-ANSI mode (every row to one bucket, or dropped before the
    r11 null fix); the guards must raise instead (ADVICE r10)."""
    import pytest as _pytest

    from json_format_in_parquet_benchmark_spark.functions.windows import (
        pack_shards_two_phase,
        prefix_sum_two_phase,
        rank_two_phase,
    )

    df = spark.createDataFrame(
        [("a", 1, 2), ("a", 2, 3)], "part string, id long, sz long"
    )
    for bad in (0, -5, None, 1.5, True):
        with _pytest.raises(TypeError, match="positive int"):
            rank_two_phase(df, "part", "id", bucket_width=bad)
        with _pytest.raises(TypeError, match="positive int"):
            prefix_sum_two_phase(df, "part", "id", "sz", bucket_width=bad)
    with _pytest.raises(TypeError, match="positive int"):
        pack_shards_two_phase(df, "part", "id", "sz", budget=0)
    with _pytest.raises(TypeError, match="positive int"):
        rank_two_phase(
            df, "part", "id", order_extra=("id",), bucket_width=1,
            tie_bucket=("id", 0),
        )


def test_two_phase_keeps_null_values_nulls_first(spark):
    """The r10 latent hole, closed in r11: NULL order/value rows used to
    get a NULL bucket and be DROPPED by the null-unsafe offsets join.
    With the (flag, bucket) key pair they must be KEPT and sort FIRST,
    matching Spark's single-window ASC default (nulls first) bit for bit
    -- rank, prefix sum, and shard packing alike."""
    import random as _random

    from pyspark.sql import Window as _W

    from json_format_in_parquet_benchmark_spark.functions.windows import (
        pack_shard_spark,
        pack_shards_two_phase,
        prefix_sum_two_phase,
        rank_two_phase,
    )

    rng = _random.Random(43)
    rows = []
    for part in ("a", "b"):
        for i in range(300):
            v = None if rng.random() < 0.15 else rng.randrange(-200, 200)
            rows.append((part, i, v, rng.randrange(1, 30)))
    df = spark.createDataFrame(rows, "part string, id long, v long, sz long")

    # rank: value-at-rank + count parity (ties permute freely)
    w = _W.partitionBy("part").orderBy("v", "id")
    want = {
        (r["part"], r["id"]): (r["rn"], r["n"])
        for r in df.select(
            "part", "id",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(_W.partitionBy("part")).alias("n"),
        ).collect()
    }
    got = {
        (r["part"], r["id"]): (r["rn"], r["n"])
        for r in rank_two_phase(
            df, "part", "v", order_extra=("id",), bucket_width=16
        ).collect()
    }
    assert got == want  # every NULL-value row present, ranked first

    # exclusive prefix sum under the same nulls-first total order
    wp = w.rowsBetween(_W.unboundedPreceding, 0)
    want_p = {
        (r["part"], r["id"]): r["pre"]
        for r in df.withColumn(
            "pre", F.sum("sz").over(wp) - F.col("sz")
        ).collect()
    }
    got_p = {
        (r["part"], r["id"]): r["prefix"]
        for r in prefix_sum_two_phase(
            df, "part", "v", "sz", order_extra=("id",), bucket_width=16
        ).collect()
    }
    assert got_p == want_p

    # shard packing (no order_extra: ties have equal sizes' freedom only
    # in id order; use a de-duplicated order column for exactness)
    dedup = df.groupBy("part", "v").agg(F.sum("sz").alias("sz"))
    want_s = {
        (r["part"], r["v"]): r["shard"]
        for r in dedup.withColumn(
            "shard", pack_shard_spark("part", "v", "sz", 64)
        ).collect()
    }
    got_s = {
        (r["part"], r["v"]): r["shard"]
        for r in pack_shards_two_phase(
            dedup, "part", "v", "sz", 64, bucket_width=16
        ).collect()
    }
    assert got_s == want_s


def test_ntile_from_rank_arithmetic_matches_native(spark):
    """events_uplift_deciles recovers NTILE(10) from the two-phase
    (rank, n) with pure integer arithmetic.  The SQL-standard rule is
    subtle (the first n%10 tiles carry the extra row -- the naive
    floor(k*(rn-1)/n)+1 misplaces them), so pin the formula against
    Spark's native ntile at sizes that hit every branch: n < 10 (q=0,
    one row per tile), n%10 == 0 (even tiles), and two uneven sizes
    whose remainders differ."""
    from pyspark.sql import Window as _W

    ntile_sql = (
        "cast(case when rn <= (n % 10) * ((n div 10) + 1)"
        " then (rn + (n div 10)) div ((n div 10) + 1)"
        " else (n % 10) + (rn - (n % 10) * ((n div 10) + 1)"
        " + (n div 10) - 1) div (n div 10) end as int)"
    )
    for n in (3, 10, 14, 97, 150):
        df = spark.range(n).select(F.col("id").alias("k"))
        w = _W.orderBy("k")
        rows = df.select(
            "k",
            F.ntile(10).over(w).cast("int").alias("native"),
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.count(F.lit(1)).over(_W.partitionBy()).cast("bigint").alias("n"),
        ).selectExpr("k", "native", f"{ntile_sql} as arith")
        bad = [r for r in rows.collect() if r["native"] != r["arith"]]
        assert not bad, (n, bad[:5])
