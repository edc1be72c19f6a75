"""Scale probe for the dedup/similarity family: measure wall time at
1x / 10x / 100x of the sf0.1 corpus size and show the blocked shapes
(band-blocked SimHash, LSH-banded MinHash, prefix-bound n-gram join,
sign-LSH-bucketed embedding pairs) scale near-linearly, not quadratically.

The corpus is synthesized Spark-natively and deterministically (md5-derived
token/vector choice, no RNG) with planted duplicate structure: 5% exact
duplicates (row copies its predecessor) and 5% near-duplicates (copy with
one token / one coordinate perturbed), so every operator has real work to
find at every scale.  Synthesized tables are written to Parquet first and
the operators timed on the read-back, so timings measure the operator, not
the generator.

Usage:
    python scripts/run_scale_probe.py [--sizes 5000,50000,500000]

Prints one JSON line per (size, operator) with seconds + output rows, then
a summary of time growth ratios per 10x of data (quadratic would be ~100x;
the blocked shapes stay near ~10x or below).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from json_format_in_parquet_benchmark_spark.operators import dedup
from json_format_in_parquet_benchmark_spark.operators.semantic import (
    semantic_dup_flags_fast,
)
from json_format_in_parquet_benchmark_spark.operators.graph import (
    label_propagation,
    pagerank,
)
from json_format_in_parquet_benchmark_spark.operators.multimodal import (
    media_table,
    phash_features,
    phash_nearest_neighbor,
)
from json_format_in_parquet_benchmark_spark.operators.similarity import (
    ivf_assign_fast,
    ivf_assign_hier_exact,
    knn_graph_ivf,
    knn_graph_ivf_exact,
    pq_topk,
    topk_ivf,
)
from json_format_in_parquet_benchmark_spark.runtime import release_caches, scoped_conf
from json_format_in_parquet_benchmark_spark.session import get_spark

VOCAB = 50_000  # large vocab keeps shingle document-frequency low, like real text
DIM = 64


def synth_documents(spark: SparkSession, n: int, out: str) -> None:
    """Deterministic documents table: 5% exact dups, 5% one-token near-dups."""
    h = "cast(conv(substr(md5(concat(src_id, ':', i)), 1, 15), 16, 10) as bigint)"
    (
        spark.range(n)
        .selectExpr(
            "id as doc_id",
            # 19s copy a PLAIN row (16: src=itself) so the copy is exact;
            # 18s copy a plain row and mutate one token (near-dup).
            "case when id % 20 = 19 then id - 3 "
            "     when id % 20 = 18 then id - 2 else id end as src_id",
            "cast(id % 20 = 18 as int) as mutate",
        )
        .selectExpr(
            "doc_id",
            # 20..50 tokens from a 50k vocab, chosen by the doc's SOURCE id so
            # dup rows reproduce their source's text exactly; near-dup rows
            # replace token 2 with a doc-unique token.
            "concat_ws(' ', transform(sequence(1, 20 + cast(src_id % 31 as int)), "
            f" i -> case when mutate = 1 and i = 2 then concat('u', doc_id) "
            f"      else concat('w', {h} % {VOCAB}) end)) as text",
            "concat('l', src_id % 5) as lang",
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .parquet(out)
    )


def synth_embeddings(spark: SparkSession, n: int, out: str) -> None:
    """Deterministic embeddings: 5% near-dups (predecessor's vector, one
    coordinate nudged by 0.01 -- cosine stays ~1)."""
    h = "cast(conv(substr(md5(concat(src_id, '#', j)), 1, 15), 16, 10) as bigint)"
    (
        spark.range(n)
        .selectExpr(
            "id as vec_id",
            "case when id % 20 = 19 then id - 1 else id end as src_id",
            "cast(id % 20 = 19 as int) as nudge",
        )
        .selectExpr(
            "vec_id",
            f"transform(sequence(0, {DIM - 1}), "
            f" j -> cast(({h} % 2001 - 1000) as float) / 1000.0f "
            f"      + cast(case when nudge = 1 and j = 0 then 0.01 else 0.0 end as float)"
            ") as embedding",
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .parquet(out)
    )


def synth_text_corpus(spark: SparkSession, n: int, out: str) -> None:
    """Documents table for the text-pipeline arms: a real 'en' target slice
    (1 in 5 docs) and ~4% BM25 query-term token hits.  Kept SEPARATE from
    :func:`synth_documents` so the dedup arms' historical probe rows stay
    byte-comparable across rounds."""
    h = "cast(conv(substr(md5(concat(id, ':', i)), 1, 15), 16, 10) as bigint)"
    (
        spark.range(n)
        .selectExpr(
            "id as doc_id",
            "concat_ws(' ', transform(sequence(1, 20 + cast(id % 31 as int)), "
            f" i -> case when {h} % 97 = 0 then 'spark'"
            f"      when {h} % 97 = 1 then 'merge'"
            f"      when {h} % 97 = 2 then 'vector'"
            f"      when {h} % 97 = 3 then 'window'"
            f"      else concat('w', {h} % {VOCAB}) end)) as text",
            "case when id % 5 = 0 then 'en'"
            " else concat('l', id % 5) end as lang",
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .parquet(out)
    )


OPS: set[str] | None = None  # --ops filter; None = run everything


def synth_zipf_events(
    spark: SparkSession, n: int, out: str, n_users: int, s: float = 1.2
) -> None:
    """Deterministic zipf(s)-skewed events table via inverse-CDF on an
    md5-uniform draw: P(user_id = r) ~ r^-s over [1, n_users] (truncated
    Pareto with tail index s-1).  At s=1.2 the hottest key carries ~13%
    of ALL rows; at s=2.0 it carries ~61% -- a genuine straggler at any
    scale.  No RNG: u is the md5 of the row id, identical across runs."""
    alpha = s - 1.0
    umin = n_users ** (-alpha)
    u = "(cast(conv(substr(md5(cast(id as string)), 1, 15), 16, 10) as double) / 1152921504606846976.0)"
    (
        spark.range(n)
        .selectExpr(
            "id as event_id",
            f"cast(pow({umin} + {u} * (1.0 - {umin}), -1.0 / {alpha}) as bigint) as user_id",
            "cast(id % 1000 as double) / 100.0 as value",
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .parquet(out)
    )


def timed_l(label: str, fn) -> tuple[float, int] | None:
    """timed() with the op name printed up front -- the long tiers need a
    stderr marker saying which operator is currently running.  Returns
    None (arm skipped) when an --ops filter excludes the label, so big
    single-op tiers (e.g. the 5M substring arm) don't pay for the rest."""
    if OPS is not None and label not in OPS:
        return None
    return timed(fn, label)


TRIALS = 2  # --trials; drop to 1 for half-hour single-arm tiers


def timed(fn, label: str = "") -> tuple[float, int]:
    """min-of-TRIALS trials (default 2): long-lived local JVMs show multi-x
    timing noise (GC, JIT warmup, lazy cache population racing); the min is
    the reproducible cost of the plan."""
    if label:
        print(f"[probe] start {label}", file=sys.stderr, flush=True)
    best = None
    for _ in range(TRIALS):
        t0 = time.time()
        rows = fn()
        secs = round(time.time() - t0, 2)
        # Release the operator's persisted intermediates between trials and
        # measurements: no run should inherit a predecessor's cache, and
        # leaked blocks inflate later timings via memory/GC pressure.
        release_caches()
        best = secs if best is None else min(best, secs)
    return best, rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="5000,50000,500000")
    ap.add_argument("--workdir", default="/tmp/jfipb_scale_probe")
    ap.add_argument(
        "--ops",
        default="",
        help="comma-separated arm labels to run (default: all)",
    )
    ap.add_argument(
        "--trials",
        type=int,
        default=2,
        help="measured trials per arm, min reported (1 for huge tiers)",
    )
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]
    global OPS, TRIALS
    OPS = set(filter(None, args.ops.split(","))) or None
    TRIALS = max(1, args.trials)

    spark = get_spark("scale-probe")
    results: dict[int, dict[str, tuple[float, int]]] = {}
    for n in sizes:
        docs_path = os.path.join(args.workdir, f"docs_{n}")
        embs_path = os.path.join(args.workdir, f"embs_{n}")
        n_emb = max(n * 2 // 5, 100)  # embeddings table is 2/5 of docs, like sf0.1
        emb_ops = {
            "embedding_near_dup", "ivf_topk", "semantic_dedup",
            "gram_matrix", "pq_topk", "kcenter_8", "knn_graph",
            "knn_graph_hier_exact",
            "assign_flat_sql", "assign_hier_exact",
        }
        # zipf/CC arms synthesize their own inputs; skip the 2n-doc corpus
        # when an --ops filter selects none of its consumers (a 50M zipf
        # tier must not pay for 50M synthetic documents).
        doc_free_ops = {
            "zipf_join_naive", "zipf_join_naive_aqeskew", "zipf_join_salted",
            "zipf_agg_naive", "zipf_agg_salted", "cc_distributed_bigraph",
            "knn_graph",  # embeddings-only: a 5M-vector
            "knn_graph_hier_exact", "assign_flat_sql", "assign_hier_exact",
            # tier must not pay for a 12.5M-doc corpus it never reads
        }
        docs = None
        if OPS is None or OPS - doc_free_ops:
            synth_documents(spark, n, docs_path)
            docs = spark.read.parquet(docs_path)
        embs = None
        if OPS is None or OPS & emb_ops:
            synth_embeddings(spark, n_emb, embs_path)
            embs = spark.read.parquet(embs_path)
        # sign-LSH bucket count must grow with N to hold per-bucket occupancy
        # roughly constant (the knob a 100 TB deployment turns): ~2^13
        # buckets at 2k vectors up to 2^19 at 200k.
        n_planes = max(8, (n_emb - 1).bit_length() + 2)
        r: dict[str, tuple[float, int]] = {}
        r["exact_dedup"] = timed_l("exact_dedup", 
            lambda: dedup.exact_dedup(docs, "text", "doc_id").count()
        )
        r["minhash_lsh"] = timed_l("minhash_lsh", 
            lambda: dedup.minhash_lsh_pairs(docs, "text", "doc_id").count()
        )
        r["simhash"] = timed_l("simhash",
            lambda: dedup.simhash_pairs(docs, "text", "doc_id").count()
        )
        # Block-combination banding (blocks=6: 20 bands x 30-bit keys)
        # vs the contiguous default's 4 x 15-bit: same exact pair set,
        # 5x the scan-side band rows for 2^15x the bucket count -- the
        # width knob that defers the N^2/2^width cliff to ~10^10 docs.
        r["simhash_blocks"] = timed_l("simhash_blocks",
            lambda: dedup.simhash_pairs(
                docs, "text", "doc_id", blocks=6
            ).count()
        )
        # End-to-end near-dup clustering: minhash pair generation plus
        # connected components.  The pair graph stays tiny relative to the
        # corpus, so CC takes the driver union-find fast path at every one
        # of these sizes; the distributed min-label loop is the >2M-edge
        # fallback.
        r["minhash_clusters"] = timed_l("minhash_clusters", 
            lambda: dedup.connected_components(
                dedup.minhash_lsh_pairs(docs, "text", "doc_id")
            ).count()
        )
        if n == max(sizes):
            # The 100 TB path: force the distributed min-label propagation
            # (driver_max_edges=0 disables the union-find fast path) on the
            # largest probe so the Pregel fallback has a measured number at
            # scale, not just a unit test.
            r["minhash_clusters_distributed"] = timed_l("minhash_clusters_distributed", 
                lambda: dedup.connected_components(
                    dedup.minhash_lsh_pairs(docs, "text", "doc_id"),
                    driver_max_edges=0,
                ).count()
            )
        # Prefix-bound candidates + DF-cap scope filter (the registered
        # dedup_ngram_jaccard route).
        r["ngram_jaccard"] = timed_l("ngram_jaccard",
            lambda: dedup.ngram_jaccard_pairs(docs, "text", "doc_id").count()
        )
        r["ngram_prefix"] = timed_l("ngram_prefix",
            lambda: dedup.ngram_jaccard_pairs_prefix(
                docs, "text", "doc_id"
            ).count()
        )
        # Exact-substring spans (round 4): position fan-out is |chars| rows
        # of (doc_id, pos, int64) -- growth must stay ~linear in corpus
        # bytes (two hash shuffles + one doc_id window).
        r["substring_spans"] = timed_l("substring_spans",
            lambda: dedup.substring_dup_spans(
                docs, "text", "doc_id"
            ).count()
        )
        # The 100 TB arm: content-defined (gh % 8 == 0) anchor sampling --
        # same spans at anchor granularity, ~8x less shuffled gram volume.
        # Compare its per-10x growth AND its absolute time against the
        # exact arm above; output rows differ only by sampling-miss spans.
        r["substring_spans_stride8"] = timed_l("substring_spans_stride8",
            lambda: dedup.substring_dup_spans(
                docs, "text", "doc_id", anchor_stride=8
            ).count()
        )
        # Round-5 ops: containment rides the same DF-capped inverted
        # index as ngram (posting-list fan-out is df_cap-bounded);
        # repeated-segments is two window counts over one segment
        # shuffle -- both must grow ~linearly in corpus rows.
        r["containment_pairs"] = timed_l("containment_pairs",
            lambda: dedup.containment_pairs(
                docs, "text", "doc_id"
            ).count()
        )
        r["repeated_segments"] = timed_l("repeated_segments",
            lambda: dedup.repeated_segment_stats(
                docs, "text", "doc_id"
            ).count()
        )
        # --- measured RECALL against planted truth (round-6 verdict) ----
        # The synthetic corpus plants its duplicate structure (exact: 19s
        # copy 16s; near: 18s copy 16s one token off), so ground truth is
        # structural -- no reference-detector circularity.  Reports
        # n_found/n_true per (detector, kind) so the runtime arms above
        # get the companion answer: did the banded/blocked shapes still
        # FIND the duplicates at this scale?  Runs each detector once
        # (the number, not the time, is the point here).
        if (OPS is None or "planted_recall" in OPS) and docs is not None:
            t0 = time.time()
            base = spark.range(n).selectExpr(
                "id as doc_id",
                "case when id % 20 = 19 then id - 3 "
                "     when id % 20 = 18 then id - 2 else id end as src_id",
            )
            truth = (
                base.where("doc_id % 20 = 19")
                .selectExpr("src_id as doc_a", "doc_id as doc_b",
                            "'exact' as kind")
                .union(
                    base.where("doc_id % 20 = 18").selectExpr(
                        "src_id as doc_a", "doc_id as doc_b", "'near' as kind"
                    )
                )
                .union(
                    base.where(f"doc_id % 20 = 18 and doc_id + 1 < {n}")
                    .selectExpr("doc_id as doc_a", "doc_id + 1 as doc_b",
                                "'near' as kind")
                )
            ).persist()
            n_truth = truth.count()
            for det, pairs_fn in (
                ("minhash_lsh",
                 lambda: dedup.minhash_lsh_pairs(docs, "text", "doc_id")),
                # Uncapped like the registry recall twin: this arm SCORES
                # banding recall against planted truth, so the degenerate-
                # bucket cap must not be conflated with banding loss.
                ("simhash",
                 lambda: dedup.simhash_pairs(
                     docs, "text", "doc_id", max_bucket=None)),
                ("ngram_prefix",
                 lambda: dedup.ngram_jaccard_pairs_prefix(
                     docs, "text", "doc_id")),
            ):
                print(f"[probe] start recall_{det}", file=sys.stderr,
                      flush=True)
                f = pairs_fn().select(
                    F.col("doc_a").alias("fa"), F.col("doc_b").alias("fb")
                )
                got = (
                    truth.join(
                        f,
                        (truth.doc_a == F.col("fa"))
                        & (truth.doc_b == F.col("fb")),
                        "left",
                    )
                    .groupBy("kind")
                    .agg(
                        F.count(F.lit(1)).alias("n_true"),
                        F.sum(
                            F.expr("case when fa is not null then 1 else 0 end")
                        ).alias("n_found"),
                    )
                    .collect()
                )
                for row in got:
                    print(
                        json.dumps(
                            {
                                "n_docs": n,
                                "op": f"recall_{det}_{row['kind']}",
                                "n_true": row["n_true"],
                                "n_found": int(row["n_found"]),
                                "recall": round(
                                    row["n_found"] / row["n_true"], 4
                                ),
                            }
                        ),
                        flush=True,
                    )
                release_caches()
            truth.unpersist()
            r["planted_recall"] = (round(time.time() - t0, 2), n_truth)
        r["embedding_near_dup"] = timed_l("embedding_near_dup",
            lambda: dedup.embedding_near_dup_pairs(
                embs, "embedding", "vec_id", n_planes=n_planes
            ).count()
        )
        # IVF cell count grows with N to hold per-cell size constant --
        # the same knob a real deployment turns when the corpus grows.
        # The build uses the Arrow-vectorized numpy assignment (the
        # at-scale kernel; the interpreted SQL form is the oracle path).
        n_cells = max(16, n_emb // 500)
        r["ivf_topk"] = timed_l("ivf_topk", 
            lambda: topk_ivf(
                embs, embs.limit(8), "embedding", "vec_id", k=5,
                n_cells=n_cells, dim=DIM,
                assigned=ivf_assign_fast(
                    embs, "embedding", "vec_id", n_cells, DIM
                ).withColumnRenamed("vec_id", "neighbor_id"),
            ).count()
        )
        # Full k-NN graph (the SemDeDup/all-to-all ANN shape): the
        # knn_graph_ivf docstring's growth rule -- grow n_cells linearly
        # with N so cell occupancy (N/n_cells) stays constant and total
        # work O(N^2/n_cells) stays linear -- measured, not argued
        # (round-6 verdict item 4).  Flat per-vector cost per 10x tier is
        # the pass condition; the same n_cells rule as ivf_topk above.
        r["knn_graph"] = timed_l("knn_graph",
            lambda: knn_graph_ivf(
                embs, "embedding", "vec_id", k=5,
                n_cells=max(16, n_emb // 500), dim=DIM,
                assigned=ivf_assign_fast(
                    embs, "embedding", "vec_id", max(16, n_emb // 500), DIM
                ),
            ).count()
        )
        # The REGISTERED similarity_knn_graph shape since round 8: the
        # integer-exact two-level assignment AND the per-cell int64 Gram
        # scoring kernel, both oracle-mirrored bit for bit -- this row
        # times the driver-checked plan itself under the linear-n_cells
        # growth rule, not a stand-in.
        r["knn_graph_hier_exact"] = timed_l("knn_graph_hier_exact",
            lambda: knn_graph_ivf_exact(
                embs, "embedding", "vec_id", k=5,
                n_cells=max(16, n_emb // 500), dim=DIM,
                assigned=ivf_assign_hier_exact(
                    embs, "embedding", "vec_id",
                    max(16, n_emb // 500), DIM,
                ),
            ).count()
        )
        # Assignment-ONLY pair at the same growth rule: the round-7 weak
        # item was that the registered plan carried the DECLARATIVE flat
        # assignment (interpreted argmax-dot over all n_cells,
        # O(N*n_cells*dim) -- quadratic when n_cells ~ N); these two rows
        # isolate that term from the scoring join.  assign_flat_sql is
        # the OLD registered assignment; assign_hier_exact is the new one
        # (integer-exact two-level kernel, O(N*~2*sqrt(n_cells)*dim)).
        from json_format_in_parquet_benchmark_spark.operators.similarity import (
            ivf_assign as _ivf_assign_sql,
        )

        r["assign_flat_sql"] = timed_l("assign_flat_sql",
            lambda: _ivf_assign_sql(
                embs, "embedding", "vec_id", max(16, n_emb // 500), DIM
            ).count()
        )
        r["assign_hier_exact"] = timed_l("assign_hier_exact",
            lambda: ivf_assign_hier_exact(
                embs, "embedding", "vec_id",
                n_cells=max(16, n_emb // 500), dim=DIM,
            ).count()
        )
        # SemDeDup: the cluster count is the published scale knob -- grow k
        # with N to hold within-cluster (quadratic) pair work ~ N^2/k linear.
        # The numpy kernels are the at-scale path (the SQL-literal argmin is
        # the oracle form; its expression grows with k*dim).
        r["semantic_dedup"] = timed_l("semantic_dedup", 
            lambda: semantic_dup_flags_fast(
                embs, "embedding", "vec_id", threshold=0.95,
                k=max(8, n_emb // 500), iters=2, dim=DIM,
            ).count()
        )
        # PQ: codebook size is FIXED (compression codebooks do not grow
        # with the corpus); train + encode + ADC-score should therefore
        # scale linearly in N.
        # Gram/moment reduction: THE mergeable-aggregate shape (covariance
        # for whitening/PCA) -- per-batch numpy A^T A partials + integer
        # merge; cost is one map pass, so growth must be ~linear in N and
        # independent of any pair structure.
        from json_format_in_parquet_benchmark_spark.plans.queries_embedding_stats import (
            gram_matrix,
        )
        r["gram_matrix"] = timed_l("gram_matrix", 
            lambda: gram_matrix(embs).count()
        )
        r["pq_topk"] = timed_l("pq_topk", 
            lambda: pq_topk(
                embs, "embedding", "vec_id", n_queries=8, k=5
            ).count()
        )
        # Greedy k-center coreset: k (=8) persisted linear passes + k top-1
        # reduces; per-tier wall time should grow ~linearly in N with a
        # fixed per-round overhead (the driver holds only k centers).
        from json_format_in_parquet_benchmark_spark.plans.queries_embedding_stats import (
            kcenter_select,
        )
        r["kcenter_8"] = timed_l("kcenter_8", 
            lambda: len(kcenter_select(embs, 8))
        )
        # PageRank: deterministic synthetic 4-regular symmetric graph over
        # n nodes; 3 supersteps.  Wall time should track |E| linearly.
        graph_ops = {
            "pagerank_3iter", "label_prop_3iter",
            "pagerank_10iter", "label_prop_10iter",
        }
        edges_path = os.path.join(args.workdir, f"edges_{n}")
        if OPS is None or OPS & graph_ops:
            eraw = spark.range(n).selectExpr(
                "id as a",
                f"(id * 7 + 1) % {n} as b",
                f"(id * 13 + 3) % {n} as c",
            )
            (
                eraw.selectExpr("a as src", "b as dst")
                .union(eraw.selectExpr("b", "a"))
                .union(eraw.selectExpr("a", "c"))
                .union(eraw.selectExpr("c", "a"))
                .repartition(spark.sparkContext.defaultParallelism)
                .write.mode("overwrite")
                .parquet(edges_path)
            )
        r["pagerank_3iter"] = timed_l("pagerank_3iter",
            lambda: pagerank(spark.read.parquet(edges_path)).count()
        )
        # LPA communities: same synthetic graph, 3 supersteps of two
        # map-side-combined aggregates each -- |E|-linear like PageRank.
        r["label_prop_3iter"] = timed_l("label_prop_3iter",
            lambda: label_propagation(spark.read.parquet(edges_path)).count()
        )
        # Deep-iteration arms (round-4 verdict task): 10 supersteps with
        # lineage checkpointing every 5 -- per-iteration cost must stay
        # ~flat vs the 3-iter arms (without localCheckpoint the analyzer/
        # optimizer cost compounds with plan depth).
        r["pagerank_10iter"] = timed_l("pagerank_10iter",
            lambda: pagerank(
                spark.read.parquet(edges_path), n_iters=10
            ).count()
        )
        r["label_prop_10iter"] = timed_l("label_prop_10iter",
            lambda: label_propagation(
                spark.read.parquet(edges_path), n_iters=10
            ).count()
        )
        # Perceptual-hash near-dup: Arrow-batched Python pHash stage +
        # banded Hamming join.  The Python md5 kernel dominates and is
        # per-row, so growth must be ~linear; the banded self-join rides
        # bucket occupancy like simhash.
        r["phash_neardup"] = timed_l("phash_neardup",
            lambda: phash_nearest_neighbor(
                phash_features(media_table(docs))
            ).count()
        )
        # --- distributed-CC stress arm (round-5 verdict item 3) --------
        # The driver union-find default is size-gated at 2M undirected
        # edges; at 100 TB a near-dup pair graph can exceed it, so the
        # min-label fallback needs a measured number at a tier where the
        # gate would actually trip.  Synthetic 10-node components
        # (ring + star chords, ~1.9 edges/node over 5*n nodes => ~10x the
        # minhash pair graph) with KNOWN answer: every node's rep is its
        # block start.  Star chords keep the diameter at 2, so the cost
        # is per-round shuffle volume, not round count.
        if n == max(sizes):
            cce_path = os.path.join(args.workdir, f"cc_edges_{n}")

            def _cc_big():
                nn = n * 5
                edges = spark.range(nn).selectExpr(
                    "id as doc_a",
                    "case when id % 10 < 9 then id + 1 else id - 9 end as doc_b",
                ).union(
                    spark.range(nn)
                    .where("id % 10 >= 2")
                    .selectExpr("id as doc_a", "id - id % 10 as doc_b")
                )
                (
                    edges.repartition(spark.sparkContext.defaultParallelism)
                    .write.mode("overwrite")
                    .parquet(cce_path)
                )
                out = dedup.connected_components(
                    spark.read.parquet(cce_path), driver_max_edges=0
                )
                # correctness spot-check rides the timing: every rep must
                # be the component's block start
                bad = out.where("cluster_rep != doc_id - doc_id % 10").count()
                assert bad == 0, f"{bad} wrong component reps"
                return out.count()

            r["cc_distributed_bigraph"] = timed_l(
                "cc_distributed_bigraph", _cc_big
            )

        # --- zipf skew-stress arms (round-5 verdict item 7) ------------
        # Salting's worth is claimed by agg_salted_skew_user /
        # join_salted_skew_events but testdata is uniform; these arms
        # measure the claim on a zipf(1.2) corpus whose hottest key holds
        # ~13% of ALL rows.  Broadcast is disabled for every join arm (the
        # scenario is "dim too big to broadcast"); AQE skew-join is OFF
        # for naive/salted (the case the salted plan exists for: engine
        # skew handling unavailable) and ON for the _aqeskew arm (showing
        # the engine path when it does apply).  The agg arms document the
        # OTHER claim: for algebraic aggregates, map-side partial
        # aggregation already collapses hot keys before the shuffle, so
        # naive ~= salted and the plain groupBy plans are skew-safe.
        zipf_ops = {
            "zipf_join_naive", "zipf_join_naive_aqeskew", "zipf_join_salted",
            "zipf_agg_naive", "zipf_agg_salted",
        }
        if OPS is None or OPS & zipf_ops:
            zev_path = os.path.join(args.workdir, f"zipf_events_{n}")
            n_users = max(n // 20, 100)
            synth_zipf_events(spark, n, zev_path, n_users)
            zdim_path = os.path.join(args.workdir, f"zipf_dim_{n}")
            (
                spark.range(1, n_users + 1)
                .selectExpr("id as c_custkey", "id % 25 as c_nationkey")
                .repartition(spark.sparkContext.defaultParallelism)
                .write.mode("overwrite")
                .parquet(zdim_path)
            )

            def _zev():
                return spark.read.parquet(zev_path)

            def _zdim():
                return spark.read.parquet(zdim_path)

            def _join_naive():
                ev, dim = _zev(), _zdim()
                return (
                    ev.join(dim, ev.user_id == dim.c_custkey)
                    .groupBy("c_nationkey")
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.expr(
                            "cast(sum(cast(value as decimal(18,2))) as double)"
                        ).alias("tv"),
                    )
                    .count()
                )

            def _join_salted():
                n_salt = 16
                ev = _zev().select(
                    "user_id", "value",
                    F.pmod(F.col("event_id"), F.lit(n_salt)).alias("salt"),
                )
                dim = _zdim().withColumn(
                    "salt", F.explode(F.expr(f"sequence(0, {n_salt - 1})"))
                )
                return (
                    ev.join(
                        dim,
                        (ev.user_id == dim.c_custkey) & (ev.salt == dim.salt),
                    )
                    .groupBy("c_nationkey")
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.expr(
                            "cast(sum(cast(value as decimal(18,2))) as double)"
                        ).alias("tv"),
                    )
                    .count()
                )

            no_bcast = {
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            }
            with scoped_conf(
                spark,
                {**no_bcast, "spark.sql.adaptive.skewJoin.enabled": "false"},
            ):
                r["zipf_join_naive"] = timed_l("zipf_join_naive", _join_naive)
                r["zipf_join_salted"] = timed_l("zipf_join_salted", _join_salted)
            with scoped_conf(
                spark,
                {**no_bcast, "spark.sql.adaptive.skewJoin.enabled": "true"},
            ):
                r["zipf_join_naive_aqeskew"] = timed_l(
                    "zipf_join_naive_aqeskew", _join_naive
                )
            def _agg_naive():
                return (
                    _zev()
                    .groupBy("user_id")
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.expr(
                            "cast(sum(cast(value as decimal(18,2))) as double)"
                        ).alias("tv"),
                    )
                    .count()
                )

            def _agg_salted():
                partial = (
                    _zev()
                    .withColumn("salt", F.pmod(F.col("event_id"), F.lit(16)))
                    .groupBy("user_id", "salt")
                    .agg(
                        F.count(F.lit(1)).alias("pn"),
                        F.expr("sum(cast(value as decimal(18,2)))").alias("pv"),
                    )
                )
                return (
                    partial.groupBy("user_id")
                    .agg(
                        F.sum("pn").alias("n"),
                        F.expr("cast(sum(pv) as double)").alias("tv"),
                    )
                    .count()
                )

            r["zipf_agg_naive"] = timed_l("zipf_agg_naive", _agg_naive)
            r["zipf_agg_salted"] = timed_l("zipf_agg_salted", _agg_salted)


        # Small-dim variant: the regime where MANUAL salting is the win.
        # With a 2.5M-row dim the 16x explode costs more than the hot
        # reducer it removes (measured above); shrink the dim to n/2000
        # keys (25k at 50M rows -- small, but the scenario is "broadcast
        # unavailable": streaming state, engines without AQE, or a build
        # side that is small in ROWS but huge in payload bytes).  Same
        # zipf(1.2) draw over fewer keys => hottest key ~18% of all rows.
        smalldim_ops = {"zipf_join_naive_smalldim", "zipf_join_salted_smalldim"}
        if OPS is None or OPS & smalldim_ops:
            no_bcast = {
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            }
            zev2_path = os.path.join(args.workdir, f"zipf_events_sd_{n}")
            n_users2 = max(n // 2000, 50)
            synth_zipf_events(spark, n, zev2_path, n_users2)
            zdim2_path = os.path.join(args.workdir, f"zipf_dim_sd_{n}")
            (
                spark.range(1, n_users2 + 1)
                .selectExpr("id as c_custkey", "id % 25 as c_nationkey")
                .repartition(8)
                .write.mode("overwrite")
                .parquet(zdim2_path)
            )

            def _sd_naive():
                ev = spark.read.parquet(zev2_path)
                dim = spark.read.parquet(zdim2_path)
                return (
                    ev.join(dim, ev.user_id == dim.c_custkey)
                    .groupBy("c_nationkey")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .count()
                )

            def _sd_salted():
                n_salt = 16
                ev = spark.read.parquet(zev2_path).select(
                    "user_id",
                    F.pmod(F.col("event_id"), F.lit(n_salt)).alias("salt"),
                )
                dim = spark.read.parquet(zdim2_path).withColumn(
                    "salt", F.explode(F.expr(f"sequence(0, {n_salt - 1})"))
                )
                return (
                    ev.join(
                        dim,
                        (ev.user_id == dim.c_custkey) & (ev.salt == dim.salt),
                    )
                    .groupBy("c_nationkey")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .count()
                )

            with scoped_conf(
                spark,
                {**no_bcast, "spark.sql.adaptive.skewJoin.enabled": "false"},
            ):
                r["zipf_join_naive_smalldim"] = timed_l(
                    "zipf_join_naive_smalldim", _sd_naive
                )
                r["zipf_join_salted_smalldim"] = timed_l(
                    "zipf_join_salted_smalldim", _sd_salted
                )

        # Extreme-skew variant (zipf s=2.0: hottest key ~61% of ALL rows).
        # At s=1.2 the hot reducer's hash-probe cost never dominates
        # scan+shuffle on this box, so salting can't show its worth; at
        # s=2.0 the naive plan's wall clock IS the one hot task.  Same
        # join as smalldim, AQE skew-join off (the salting scenario).
        xskew_ops = {"zipf2_join_naive", "zipf2_join_salted",
                     "zipf2_join_naive_aqeskew"}
        if OPS is None or OPS & xskew_ops:
            no_bcast = {
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            }
            zev3_path = os.path.join(args.workdir, f"zipf2_events_{n}")
            n_users3 = max(n // 2000, 50)
            synth_zipf_events(spark, n, zev3_path, n_users3, s=2.0)
            zdim3_path = os.path.join(args.workdir, f"zipf2_dim_{n}")
            (
                spark.range(1, n_users3 + 1)
                .selectExpr("id as c_custkey", "id % 25 as c_nationkey")
                .repartition(8)
                .write.mode("overwrite")
                .parquet(zdim3_path)
            )

            def _x_naive():
                ev = spark.read.parquet(zev3_path)
                dim = spark.read.parquet(zdim3_path)
                return (
                    ev.join(dim, ev.user_id == dim.c_custkey)
                    .groupBy("c_nationkey")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .count()
                )

            def _x_salted():
                n_salt = 32
                ev = spark.read.parquet(zev3_path).select(
                    "user_id",
                    F.pmod(F.col("event_id"), F.lit(n_salt)).alias("salt"),
                )
                dim = spark.read.parquet(zdim3_path).withColumn(
                    "salt", F.explode(F.expr(f"sequence(0, {n_salt - 1})"))
                )
                return (
                    ev.join(
                        dim,
                        (ev.user_id == dim.c_custkey) & (ev.salt == dim.salt),
                    )
                    .groupBy("c_nationkey")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .count()
                )

            with scoped_conf(
                spark,
                {**no_bcast, "spark.sql.adaptive.skewJoin.enabled": "false"},
            ):
                r["zipf2_join_naive"] = timed_l("zipf2_join_naive", _x_naive)
                r["zipf2_join_salted"] = timed_l("zipf2_join_salted", _x_salted)
            with scoped_conf(
                spark,
                {**no_bcast, "spark.sql.adaptive.skewJoin.enabled": "true"},
            ):
                r["zipf2_join_naive_aqeskew"] = timed_l(
                    "zipf2_join_naive_aqeskew", _x_naive
                )


        # Retention physical-strategy comparison: the SAME day-k retention
        # answer computed (a) as a user-level presence self-join and (b) on
        # 63-bit packed bitmap words (events_bitmap_retention's layout).
        # The bitmap side shrinks the joined relation ~63x and replaces the
        # per-user hash match with AND+popcount; the claim under test is
        # that this is the 100 TB-safe shape for COUNT(DISTINCT)-overlap
        # analytics (the row join's pair fan-out is |users| x days x
        # horizon, the bitmap's is |users|/63 x days x horizon).
        # ---- round-6 interval/enumeration arms: the registered plans
        # themselves run against a staged synthetic sf_dir (events.parquet
        # with the real schema), so the probe times the EXACT plan the
        # correctness gate checks.  The naive single-window sweep runs as
        # a comparison arm at the 5M tier only (its single-partition sort
        # is the thing the two-phase shape exists to avoid).
        sweep_ops = {"concurrency_sweep", "concurrency_globalsort",
                     "global_rownum"}
        if OPS is None or OPS & sweep_ops:
            from json_format_in_parquet_benchmark_spark.plans import (
                REGISTRY as _REG,
            )

            sw_dir = os.path.join(args.workdir, f"sweep_sf_{n}")
            nu = max(n // 20, 100)
            span_us = 60 * 86_400_000_000
            uexpr = (
                "cast(conv(substr(md5(cast(id as string)), 1, 15), 16, 10)"
                f" as bigint) % {nu}"
            )
            (
                spark.range(n)
                .selectExpr(
                    "id as event_id",
                    f"{uexpr} as user_id",
                    # 60-day span, md5 sub-second jitter for irregularity
                    # (spacing precomputed in Python: id * span overflows
                    # int64 past ~1.8M rows under ANSI mode)
                    f"timestamp_micros(id * {max(span_us // n, 1)}L"
                    f" + ({uexpr}) % 999983) as ts",
                )
                .repartition(spark.sparkContext.defaultParallelism)
                .write.mode("overwrite")
                .parquet(os.path.join(sw_dir, "events.parquet"))
            )
            if OPS is None or "concurrency_sweep" in OPS:
                r["concurrency_sweep"] = timed_l(
                    "concurrency_sweep",
                    lambda: _REG["events_concurrency_peak"]
                    .fn(spark, sw_dir)
                    .count(),
                )
            if (OPS is None or "concurrency_globalsort" in OPS) and (
                n <= 5_000_000
            ):

                def _naive_sweep():
                    from json_format_in_parquet_benchmark_spark.plans.queries_timeseries import (  # noqa: E501
                        CONC_GAP_MIN,
                        CONC_GAP_US,
                        DAY_US,
                    )
                    from json_format_in_parquet_benchmark_spark.streaming.events_stream import (  # noqa: E501
                        sessionize_batch,
                    )
                    from json_format_in_parquet_benchmark_spark.tables import (
                        load_table,
                    )
                    from pyspark.sql import Window

                    ev = load_table(spark, sw_dir, "events")
                    sess = sessionize_batch(ev, gap_minutes=CONC_GAP_MIN)
                    bounds = sess.selectExpr(
                        "explode(array(struct(start_us as t, 1 as delta),"
                        f" struct(end_us + {CONC_GAP_US} as t,"
                        " -1 as delta))) as b"
                    ).selectExpr("b.t as t", "b.delta as delta")
                    w = Window.orderBy("t", "delta")  # the global sort
                    conc = bounds.withColumn(
                        "c", F.sum("delta").over(w)
                    ).withColumn("day", F.expr(f"t div {DAY_US}"))
                    return conc.groupBy("day").agg(
                        F.max("c").alias("peak")
                    ).count()

                r["concurrency_globalsort"] = timed_l(
                    "concurrency_globalsort", _naive_sweep
                )
            if OPS is None or "global_rownum" in OPS:
                r["global_rownum"] = timed_l(
                    "global_rownum",
                    lambda: _REG["events_global_rownum"]
                    .fn(spark, sw_dir)
                    .count(),
                )

        # ---- text-pipeline + SQ8 arms: the REGISTERED plans run against a
        # staged sf_dir (documents/embeddings with the real schema), so the
        # probe times exactly what the correctness gate checks.  DSIR's
        # claim under test: two corpus scans + one 64-row shuffle (flat
        # per-doc cost); BM25's: two map-side scans + a broadcast stats
        # row; SQ8's: train/encode are corpus-linear and the recall
        # harness joins only the broadcast query set.
        text_ops = {"dsir_importance", "bm25_topk", "sq8_recall",
                    "chunk_semantic"}
        if OPS is None or OPS & text_ops:
            from json_format_in_parquet_benchmark_spark.plans import (
                REGISTRY as _TREG,
            )

            tx_dir = os.path.join(args.workdir, f"text_sf_{n}")
            if OPS is None or OPS & {"dsir_importance", "bm25_topk",
                                     "chunk_semantic"}:
                synth_text_corpus(
                    spark, n, os.path.join(tx_dir, "documents.parquet")
                )
                if OPS is None or "chunk_semantic" in OPS:
                    r["chunk_semantic"] = timed_l(
                        "chunk_semantic",
                        lambda: _TREG["text_chunk_semantic"]
                        .fn(spark, tx_dir)
                        .count(),
                    )
                if OPS is None or "dsir_importance" in OPS:
                    r["dsir_importance"] = timed_l(
                        "dsir_importance",
                        lambda: _TREG["sample_dsir_importance"]
                        .fn(spark, tx_dir)
                        .count(),
                    )
                if OPS is None or "bm25_topk" in OPS:
                    r["bm25_topk"] = timed_l(
                        "bm25_topk",
                        lambda: _TREG["text_bm25_topk"]
                        .fn(spark, tx_dir)
                        .count(),
                    )
            if OPS is None or "sq8_recall" in OPS:
                synth_embeddings(
                    spark, n_emb, os.path.join(tx_dir, "embeddings.parquet")
                )
                r["sq8_recall"] = timed_l(
                    "sq8_recall",
                    lambda: _TREG["similarity_sq8_recall"]
                    .fn(spark, tx_dir)
                    .count(),
                )

        # ---- betweenness arm: the registered Brandes plan against a
        # staged synthetic trading sf_dir (lineitem/orders key columns
        # only -- the plan prunes to those).  Claim under test: each
        # forward level shuffles only frontier-adjacent edges and the
        # backward pass joins adjacent levels, so cost tracks the
        # frontier (~linear in edges), not rounds x corpus.
        if OPS is None or "betweenness" in OPS:
            from json_format_in_parquet_benchmark_spark.plans import (
                REGISTRY as _BREG,
            )

            bc_dir = os.path.join(args.workdir, f"bc_sf_{n}")
            n_ord = max(n // 10, 10)
            n_sup = max(n // 100, 10)
            n_cust = max(n // 20, 25)

            def _bh(salt: str) -> str:
                return (
                    f"cast(conv(substr(md5(concat('{salt}', id)), 1, 15),"
                    " 16, 10) as bigint)"
                )

            (
                spark.range(n)
                .selectExpr(
                    f"{_bh('o:')} % {n_ord} as l_orderkey",
                    f"{_bh('s:')} % {n_sup} as l_suppkey",
                )
                .repartition(spark.sparkContext.defaultParallelism)
                .write.mode("overwrite")
                .parquet(os.path.join(bc_dir, "lineitem.parquet"))
            )
            (
                spark.range(n_ord)
                .selectExpr(
                    "id as o_orderkey", f"{_bh('c:')} % {n_cust} as o_custkey"
                )
                .repartition(spark.sparkContext.defaultParallelism)
                .write.mode("overwrite")
                .parquet(os.path.join(bc_dir, "orders.parquet"))
            )
            r["betweenness"] = timed_l(
                "betweenness",
                lambda: _BREG["graph_betweenness_sampled"]
                .fn(spark, bc_dir)
                .count(),
            )

        # ---- trading-graph iterative arm (round-8 verdict item 6): the
        # registered PageRank and LPA headliners against the same staged
        # trading sf_dir shape.  Claim under test: each superstep is one
        # (PageRank) or two (LPA) map-side-combined shuffles over the
        # cached |E| edge list with |V|-row state and per-round
        # localCheckpoint pacing, so 10x/100x edges grows wall time
        # ~linearly -- rounds x |E|, never rounds x lineage.
        graph_ops = {"pagerank_trading", "communities_trading"}
        if OPS is None or OPS & graph_ops:
            from json_format_in_parquet_benchmark_spark.plans import (
                REGISTRY as _GREG,
            )

            tg_dir = os.path.join(args.workdir, f"bc_sf_{n}")
            tg_ord = max(n // 10, 10)
            tg_sup = max(n // 100, 10)
            tg_cust = max(n // 20, 25)

            def _th(salt: str) -> str:
                return (
                    f"cast(conv(substr(md5(concat('{salt}', id)), 1, 15),"
                    " 16, 10) as bigint)"
                )

            if not os.path.isdir(os.path.join(tg_dir, "lineitem.parquet")):
                (
                    spark.range(n)
                    .selectExpr(
                        f"{_th('o:')} % {tg_ord} as l_orderkey",
                        f"{_th('s:')} % {tg_sup} as l_suppkey",
                    )
                    .repartition(spark.sparkContext.defaultParallelism)
                    .write.mode("overwrite")
                    .parquet(os.path.join(tg_dir, "lineitem.parquet"))
                )
                (
                    spark.range(tg_ord)
                    .selectExpr(
                        "id as o_orderkey",
                        f"{_th('c:')} % {tg_cust} as o_custkey",
                    )
                    .repartition(spark.sparkContext.defaultParallelism)
                    .write.mode("overwrite")
                    .parquet(os.path.join(tg_dir, "orders.parquet"))
                )
            r["pagerank_trading"] = timed_l(
                "pagerank_trading",
                lambda: _GREG["graph_pagerank_trading"]
                .fn(spark, tg_dir)
                .count(),
            )
            r["communities_trading"] = timed_l(
                "communities_trading",
                lambda: _GREG["graph_communities_trading"]
                .fn(spark, tg_dir)
                .count(),
            )

        # ---- shard-packing arm (round 9): the REGISTERED two-phase
        # prefix-sum packer vs the single-window form it replaced.  Claim
        # under test: with only 5 partition keys (lang), the one-window
        # plan sorts each language's whole corpus on ONE reducer (a
        # parallelism-5 wall), while the two-phase plan's windows are
        # per-(lang, doc_id-range-bucket) -- wall time should grow
        # ~linearly for both at these tiers (tokenize-dominated) but the
        # window form's sort stage saturates 5 tasks while the two-phase
        # stage uses the full executor set.
        pk_ops = {"pack_shards_two_phase", "pack_shards_window"}
        if OPS is None or OPS & pk_ops:
            from json_format_in_parquet_benchmark_spark.functions.windows import (
                pack_shard_spark,
            )
            from json_format_in_parquet_benchmark_spark.plans import (
                REGISTRY as _PREG,
            )
            from json_format_in_parquet_benchmark_spark.plans.queries_text import (
                _TOKS_S,
                SHARD_TOKEN_BUDGET,
            )

            pk_dir = os.path.join(args.workdir, f"pack_sf_{n}")
            ddir = os.path.join(pk_dir, "documents.parquet")
            if docs is None:
                synth_documents(spark, n, docs_path)
                docs = spark.read.parquet(docs_path)
            # _SUCCESS, not isdir: a killed write leaves a torn directory
            if not os.path.isfile(os.path.join(ddir, "_SUCCESS")):
                docs.write.mode("overwrite").parquet(ddir)
            r["pack_shards_two_phase"] = timed_l(
                "pack_shards_two_phase",
                lambda: _PREG["pack_token_shards"].fn(spark, pk_dir).count(),
            )

            def _pack_window():
                sized = spark.read.parquet(ddir).selectExpr(
                    "lang",
                    "doc_id",
                    f"cast(size({_TOKS_S}) as bigint) as n_tokens",
                )
                packed = sized.withColumn(
                    "shard",
                    pack_shard_spark(
                        "lang", "doc_id", "n_tokens", SHARD_TOKEN_BUDGET
                    ),
                )
                return (
                    packed.groupBy("lang", "shard")
                    .agg(
                        F.count(F.lit(1)).alias("n_docs"),
                        F.sum("n_tokens").alias("n_tokens"),
                        F.min("doc_id").alias("first_doc"),
                        F.max("doc_id").alias("last_doc"),
                    )
                    .count()
                )

            r["pack_shards_window"] = timed_l(
                "pack_shards_window", _pack_window
            )

        # ---- global-rank arm (round 9, staged round-10 candidate):
        # customers_rfm_segments ranks per-customer aggregates with GLOBAL
        # row_number windows (Window.orderBy, no partition) -- one reducer
        # for the whole customer dimension.  Quantify the wall and the
        # two-phase fix over synthetic per-customer rows (value = exact
        # cents, skew-free) WITHOUT touching the registered plan: rank by
        # monetary_cents with custkey tiebreak, single constant partition
        # key so rank_two_phase runs in its global form.
        gr_ops = {"rank_global_window", "rank_global_two_phase"}
        if OPS is None or OPS & gr_ops:
            from pyspark.sql import Window as _W

            from json_format_in_parquet_benchmark_spark.functions.windows import (
                rank_two_phase,
            )

            cust = (
                spark.range(n)
                .selectExpr(
                    "id as custkey",
                    "cast(conv(substr(md5(concat('m:', id)), 1, 12), 16, 10)"
                    " as bigint) as monetary_cents",
                )
                .repartition(spark.sparkContext.defaultParallelism)
            )

            def _rank_window():
                w = _W.orderBy("monetary_cents", "custkey")
                return (
                    cust.withColumn("rn", F.row_number().over(w))
                    .groupBy((F.col("rn") % 4).alias("q"))
                    .count()
                    .count()
                )

            def _rank_two_phase():
                ranked = rank_two_phase(
                    cust.withColumn("g", F.lit(0)),
                    "g",
                    "monetary_cents",
                    order_extra=("custkey",),
                    bucket_width=2**36,  # md5-12-hex values span 2^48
                )
                return (
                    ranked.groupBy((F.col("rn") % 4).alias("q"))
                    .count()
                    .count()
                )

            r["rank_global_window"] = timed_l(
                "rank_global_window", _rank_window
            )
            r["rank_global_two_phase"] = timed_l(
                "rank_global_two_phase", _rank_two_phase
            )

        # ---- sketch-NDV arm (round 9): first scale rows for the sketch
        # family.  The REGISTERED hll/kmv plans over a staged lineitem
        # (the 3 key columns the estimators read; NDVs scale with n).
        # Claim under test: the estimator side is a pure algebraic
        # aggregate (map-side-combined registers / bottom-k), so wall
        # time tracks the scan ~linearly; the exact countDistinct
        # comparison arm inside each query is the 2-shuffle part.
        sk_ops = {"sketch_hll_ndv", "sketch_kmv_ndv"}
        if OPS is None or OPS & sk_ops:
            from json_format_in_parquet_benchmark_spark.plans import (
                REGISTRY as _SREG,
            )

            sk_dir = os.path.join(args.workdir, f"sketch_sf_{n}")
            sk_li = os.path.join(sk_dir, "lineitem.parquet")
            if not os.path.isfile(os.path.join(sk_li, "_SUCCESS")):
                (
                    spark.range(n)
                    .selectExpr(
                        f"id div 4 as l_orderkey",  # ~4 lines per order
                        "cast(conv(substr(md5(concat('p:', id)), 1, 12),"
                        f" 16, 10) as bigint) % {max(n // 10, 100)}"
                        " as l_partkey",
                        "cast(id % 4 + 1 as int) as l_linenumber",
                    )
                    .repartition(spark.sparkContext.defaultParallelism)
                    .write.mode("overwrite")
                    .parquet(sk_li)
                )
            for arm in ("sketch_hll_ndv", "sketch_kmv_ndv"):
                r[arm] = timed_l(
                    arm,
                    lambda arm=arm: _SREG[arm].fn(spark, sk_dir).count(),
                )

        # ---- round-10 two-phase conversion arms: the REGISTERED
        # events_interarrival_stats (fact-table-sized gap rank ->
        # rank_two_phase) and parts_abc_pareto (global cumulative-share
        # window -> prefix_sum_two_phase) run against staged synthetic
        # sf_dirs, with their pre-conversion single-window twins at
        # <= 5M rows (the one-reducer global sort the conversions shed
        # -- same comparison protocol as concurrency_globalsort).
        tp_ops = {"interarrival_two_phase", "interarrival_window",
                  "pareto_two_phase", "pareto_window"}
        if OPS is None or OPS & tp_ops:
            from pyspark.sql import Window as _W

            from json_format_in_parquet_benchmark_spark.plans import (
                REGISTRY as _TREG,
            )
            from json_format_in_parquet_benchmark_spark.tables import (
                load_table as _lt,
            )

            ia_dir = os.path.join(args.workdir, f"ia_sf_{n}")
            ia_ev = os.path.join(ia_dir, "events.parquet")
            nu = max(n // 20, 100)
            span_us = 60 * 86_400_000_000
            uexpr = (
                "cast(conv(substr(md5(cast(id as string)), 1, 15), 16, 10)"
                f" as bigint) % {nu}"
            )
            if not os.path.isfile(os.path.join(ia_ev, "_SUCCESS")):
                # Random placement over the span (not evenly spaced ids):
                # uniform arrival times give exponential-ish per-user gaps
                # spread over decades of magnitude, like the real events
                # table (7.7k occupied 2^22-us buckets of 9.9k gaps at
                # sf0.01).  Evenly spaced ids made every gap near-constant
                # and collapsed the two-phase bucketing to ONE bucket --
                # a degenerate (and unrealistic) worst case kept in the
                # notes, not in the staged corpus.
                (
                    spark.range(n)
                    .selectExpr(
                        "id as event_id",
                        f"{uexpr} as user_id",
                        "timestamp_micros(cast(conv(substr(md5(concat("
                        "'t:', id)), 1, 14), 16, 10) as bigint)"
                        f" % {span_us}L) as ts",
                    )
                    .repartition(spark.sparkContext.defaultParallelism)
                    .write.mode("overwrite")
                    .parquet(ia_ev)
                )
            r["interarrival_two_phase"] = timed_l(
                "interarrival_two_phase",
                lambda: _TREG["events_interarrival_stats"]
                .fn(spark, ia_dir)
                .count(),
            )
            if (OPS is None or "interarrival_window" in OPS) and (
                n <= 50_000_000
            ):

                def _ia_window():
                    ev = _lt(spark, ia_dir, "events").select(
                        "user_id",
                        F.unix_micros("ts").alias("us"),
                        "event_id",
                    )
                    w = _W.partitionBy("user_id").orderBy("us", "event_id")
                    gaps = ev.select(
                        (F.col("us") - F.lag("us").over(w)).alias("g")
                    ).where(F.col("g").isNotNull())
                    # global-window: probe twin of the PRE-conversion form
                    ranked = gaps.withColumn(
                        "r", F.row_number().over(_W.orderBy("g")) - 1
                    ).withColumn(
                        "n", F.count(F.lit(1)).over(_W.partitionBy())
                    )
                    return ranked.agg(
                        F.max(
                            F.when(
                                F.col("r") == F.expr("(n - 1) div 2"),
                                F.col("g"),
                            )
                        ).alias("median_gap_us")
                    ).count()

                r["interarrival_window"] = timed_l(
                    "interarrival_window", _ia_window
                )

            pa_dir = os.path.join(args.workdir, f"pareto_sf_{n}")
            pa_li = os.path.join(pa_dir, "lineitem.parquet")
            if not os.path.isfile(os.path.join(pa_li, "_SUCCESS")):
                (
                    spark.range(n)
                    .selectExpr(
                        "id div 6 as l_partkey",
                        "cast(900 + cast(conv(substr(md5(concat('e:', id)),"
                        " 1, 12), 16, 10) as bigint) % 5000000 as double)"
                        " / 100.0 as l_extendedprice",
                        "cast(id % 11 as double) / 100.0 as l_discount",
                    )
                    .repartition(spark.sparkContext.defaultParallelism)
                    .write.mode("overwrite")
                    .parquet(pa_li)
                )
            r["pareto_two_phase"] = timed_l(
                "pareto_two_phase",
                lambda: _TREG["parts_abc_pareto"].fn(spark, pa_dir).count(),
            )
            if (OPS is None or "pareto_window" in OPS) and n <= 50_000_000:

                def _pa_window():
                    li = _lt(spark, pa_dir, "lineitem")
                    rev = li.groupBy("l_partkey").agg(
                        F.expr(
                            "cast(floor(cast(sum(cast(l_extendedprice as"
                            " decimal(18,2)) * (1 - cast(l_discount as"
                            " decimal(18,2)))) as double) * 100.0) as"
                            " bigint)"
                        ).alias("rq")
                    )
                    tot = rev.agg(F.sum("rq").cast("bigint").alias("t"))
                    # global-window: probe twin of the PRE-conversion form
                    w = _W.orderBy(
                        F.col("rq").desc(), F.col("l_partkey")
                    ).rowsBetween(_W.unboundedPreceding, 0)
                    ranked = rev.crossJoin(F.broadcast(tot)).withColumn(
                        "cum_share",
                        F.sum("rq").over(w).cast("double")
                        / F.col("t").cast("double"),
                    )
                    return (
                        ranked.withColumn(
                            "abc_class",
                            F.when(F.col("cum_share") <= 0.8, "A")
                            .when(F.col("cum_share") <= 0.95, "B")
                            .otherwise("C"),
                        )
                        .groupBy("abc_class")
                        .count()
                        .count()
                    )

                r["pareto_window"] = timed_l("pareto_window", _pa_window)

        # ---- round-10 registered-plan arms over a staged orders table:
        # customers_rfm_segments (three two-phase ranks incl. the
        # frequency tie_bucket level) and sketch_theta_intersection
        # (bottom_k_distinct pre-reduction on both year arms).  Orders
        # span 1992-1998 like TPC-H; ~20 orders/customer keeps the
        # per-customer value ranges SF-independent, as in the real table.
        ro_ops = {"rfm_segments", "theta_intersection"}
        if OPS is None or OPS & ro_ops:
            from json_format_in_parquet_benchmark_spark.plans import (
                REGISTRY as _OREG,
            )

            rf_dir = os.path.join(args.workdir, f"orders_sf_{n}")
            rf_o = os.path.join(rf_dir, "orders.parquet")
            nc = max(n // 20, 100)
            span7y_us = 7 * 365 * 86_400_000_000
            base_us = 694_224_000_000_000  # 1992-01-01 UTC in micros
            if not os.path.isfile(os.path.join(rf_o, "_SUCCESS")):
                (
                    spark.range(n)
                    .selectExpr(
                        "id as o_orderkey",
                        "cast(conv(substr(md5(concat('c:', id)), 1, 15),"
                        f" 16, 10) as bigint) % {nc} as o_custkey",
                        f"timestamp_micros({base_us}L +"
                        " cast(conv(substr(md5(concat('d:', id)), 1, 14),"
                        f" 16, 10) as bigint) % {span7y_us}L)"
                        " as o_orderdate",
                        "cast(900 + cast(conv(substr(md5(concat('p:', id)),"
                        " 1, 12), 16, 10) as bigint) % 55000000 as double)"
                        " / 100.0 as o_totalprice",
                    )
                    .repartition(spark.sparkContext.defaultParallelism)
                    .write.mode("overwrite")
                    .parquet(rf_o)
                )
            for arm, qname in (
                ("rfm_segments", "customers_rfm_segments"),
                ("theta_intersection", "sketch_theta_intersection"),
            ):
                if OPS is None or arm in OPS:
                    r[arm] = timed_l(
                        arm,
                        lambda qname=qname: _OREG[qname]
                        .fn(spark, rf_dir)
                        .count(),
                    )

        # ---- round-10 path-query arms: the reference's CORE three-way
        # (per-row re-parse vs pre-parsed variant vs shredded column,
        # SURVEY E3 / benches/query.rs) at corpus sizes the reference
        # never measured (its query bench iterates single documents; the
        # storage grid stops at 100k rows).  Each arm queries $.k over
        # its own STORED parquet -- scan + decode included, exactly as a
        # warehouse query would pay them.
        pq_ops = {"pathq_reparse", "pathq_variant", "pathq_shredded"}
        if OPS is None or OPS & pq_ops:
            from json_format_in_parquet_benchmark_spark.formats import (
                get_format,
            )

            pq_root = os.path.join(args.workdir, f"pathq_{n}")
            plain_p = os.path.join(pq_root, "plain")
            var_p = os.path.join(pq_root, "jsonb")
            shr_p = os.path.join(pq_root, "shred")
            if not os.path.isfile(os.path.join(shr_p, "_SUCCESS")):
                docs = (
                    spark.range(n)
                    .selectExpr(
                        "concat('{\"k\": ', id % 1000000,"
                        " ', \"name\": \"evt_', id % 97,"
                        " '\", \"pad\": \"',"
                        " substr(md5(cast(id as string)), 1, 16),"
                        " '\"}') as doc"
                    )
                    .repartition(spark.sparkContext.defaultParallelism)
                )
                docs.write.mode("overwrite").parquet(plain_p)
                raw = spark.read.parquet(plain_p)
                jb = get_format("jsonb")
                jb.flush(jb.encode(raw), var_p)
                raw.select(
                    F.from_json(
                        "doc", "k bigint, name string, pad string"
                    ).alias("s")
                ).write.mode("overwrite").parquet(shr_p)

            def _pq_reparse():
                return (
                    spark.read.parquet(plain_p)
                    .select(F.get_json_object("doc", "$.k").alias("k"))
                    .agg(F.max("k"))
                    .collect()
                ) and 1

            def _pq_variant():
                return (
                    spark.read.parquet(var_p)
                    .select(F.variant_get("v", "$.k", "string").alias("k"))
                    .agg(F.max("k"))
                    .collect()
                ) and 1

            def _pq_shredded():
                return (
                    spark.read.parquet(shr_p)
                    .select(F.col("s.k").cast("string").alias("k"))
                    .agg(F.max("k"))
                    .collect()
                ) and 1

            for arm, fn in (
                ("pathq_reparse", _pq_reparse),
                ("pathq_variant", _pq_variant),
                ("pathq_shredded", _pq_shredded),
            ):
                if OPS is None or arm in OPS:
                    r[arm] = timed_l(arm, fn)

        # ---- round-10 sink arms: the REGISTERED partitioned-write and
        # Z-order clustering sinks over a full-schema staged events table
        # -- the WRITE path at scale (first sink-family probe rows).
        # Both queries write their layouts then read the files back for
        # the pruning/stat readout, so the timing covers write + read.
        sk2_ops = {"sink_partitioned", "sink_zorder"}
        if OPS is None or OPS & sk2_ops:
            from json_format_in_parquet_benchmark_spark.plans import (
                REGISTRY as _KREG,
            )

            ev_dir = os.path.join(args.workdir, f"eventsfull_sf_{n}")
            ev_p = os.path.join(ev_dir, "events.parquet")
            nu2 = max(n // 20, 100)
            span_us2 = 60 * 86_400_000_000
            u2 = (
                "cast(conv(substr(md5(cast(id as string)), 1, 15), 16, 10)"
                f" as bigint) % {nu2}"
            )
            if not os.path.isfile(os.path.join(ev_p, "_SUCCESS")):
                (
                    spark.range(n)
                    .selectExpr(
                        "id as event_id",
                        f"{u2} as user_id",
                        "timestamp_micros(1700000000000000L + cast(conv("
                        "substr(md5(concat('t:', id)), 1, 14), 16, 10)"
                        f" as bigint) % {span_us2}L) as ts",
                        "element_at(array('click','view','purchase',"
                        "'scroll','login','logout','share','search'),"
                        " cast(id % 8 + 1 as int)) as event_type",
                        "cast(cast(conv(substr(md5(concat('v:', id)), 1,"
                        " 12), 16, 10) as bigint) % 1000000 as double)"
                        " / 100.0 as value",
                    )
                    .repartition(spark.sparkContext.defaultParallelism)
                    .write.mode("overwrite")
                    .parquet(ev_p)
                )
            for arm, qname in (
                ("sink_partitioned", "sink_partitioned_events"),
                ("sink_zorder", "sink_zorder_events"),
            ):
                if OPS is None or arm in OPS:
                    r[arm] = timed_l(
                        arm,
                        lambda qname=qname: _KREG[qname]
                        .fn(spark, ev_dir)
                        .count(),
                    )

        ret_ops = {"retention_rowjoin", "retention_bitmap"}
        if OPS is None or OPS & ret_ops:
            pres_path = os.path.join(args.workdir, f"ret_pres_{n}")
            ru = max(n // 20, 100)
            uexpr = (
                "cast(conv(substr(md5(cast(id as string)), 1, 15), 16, 10)"
                f" as bigint) % {ru}"
            )
            (
                spark.range(n)
                .selectExpr("id % 60 as day", f"{uexpr} as user_id")
                .distinct()
                .repartition(spark.sparkContext.defaultParallelism)
                .write.mode("overwrite")
                .parquet(pres_path)
            )

            def _ret_rowjoin():
                pres = spark.read.parquet(pres_path)
                a = pres.selectExpr("day as day_a", "user_id")
                b = pres.selectExpr("day as day_b", "user_id")
                return (
                    a.join(
                        b,
                        (a.user_id == b.user_id)
                        & (F.col("day_b") > F.col("day_a"))
                        & (F.col("day_b") <= F.col("day_a") + 7),
                    )
                    .groupBy(
                        "day_a", (F.col("day_b") - F.col("day_a")).alias("k")
                    )
                    .agg(F.count(F.lit(1)).alias("n_both"))
                    .count()
                )

            def _ret_bitmap():
                pres = spark.read.parquet(pres_path)
                bm = (
                    pres.groupBy(
                        "day", F.expr("user_id div 63").alias("word")
                    )
                    .agg(
                        F.expr(
                            "bit_or(shiftleft(cast(1 as bigint),"
                            " cast(user_id % 63 as int)))"
                        ).alias("mask")
                    )
                    .persist()
                )
                a = bm.selectExpr("day as day_a", "word", "mask as mask_a")
                b = bm.selectExpr("day as day_b", "word", "mask as mask_b")
                try:
                    return (
                        a.join(
                            b,
                            (a.word == b.word)
                            & (F.col("day_b") > F.col("day_a"))
                            & (F.col("day_b") <= F.col("day_a") + 7),
                        )
                        .groupBy(
                            "day_a",
                            (F.col("day_b") - F.col("day_a")).alias("k"),
                        )
                        .agg(
                            F.expr("sum(bit_count(mask_a & mask_b))").alias(
                                "n_both"
                            )
                        )
                        .count()
                    )
                finally:
                    bm.unpersist()

            r["retention_rowjoin"] = timed_l(
                "retention_rowjoin", _ret_rowjoin
            )
            r["retention_bitmap"] = timed_l("retention_bitmap", _ret_bitmap)

        r = {k: v for k, v in r.items() if v is not None}
        results[n] = r
        for op, (secs, rows) in r.items():
            print(
                json.dumps({"n_docs": n, "op": op, "sec": secs, "rows": rows}),
                flush=True,
            )

    print("\n# time growth per 10x data (quadratic would be ~100x):")
    for a, b in zip(sizes, sizes[1:]):
        for op in results[a]:
            if op not in results[b]:  # largest-tier-only arms
                continue
            ta, tb = results[a][op][0], results[b][op][0]
            ratio = round(tb / ta, 1) if ta > 0 else float("inf")
            print(f"  {op}: {a}->{b} rows = {ratio}x time")
    shutil.rmtree(args.workdir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
