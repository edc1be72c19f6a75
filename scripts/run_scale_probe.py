"""Scale probe: wall time of package operators and registered queries at
1x / 10x / 100x of the sf0.1 corpus size, to show the blocked, bucketed and
two-phase shapes grow near-linearly, not quadratically.

The probe is one table of arms (:func:`arms`).  Each row names the staged
tables it reads and its ``run(spark, sf_dir)``, which calls one package
operator or registered query (``REGISTRY[name].fn``) and returns a row
count.  Each table has one synthesizer in :data:`TABLES`: deterministic
Spark-native SQL (md5-derived choices, no RNG), staged to Parquet by the
first arm that reads it, at most once per size, so timings measure the
operator on the read-back, not the generator.  The planted ``documents``
corpus carries 5% exact duplicates (a row copies a source) and 5%
one-token near-duplicates, built with the same text expression as the
registered ``generator_documents_planted``.

Usage:
    python scripts/run_scale_probe.py [--sizes 5000,50000,500000]
        [--ops label,...] [--trials 2] [--workdir DIR]

Prints one JSON line per (size, arm) with the min-of-trials seconds and
the output rows, then the time growth per 10x of data (quadratic would be
~100x; the blocked shapes stay near ~10x or below).  The first arm that
is not ``once`` runs once untimed before its trials, so the session's
warm-up does not land in its row.  Arms retired after
their A/B was decided keep their rows in ``results/scale_probe.txt``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from collections.abc import Callable
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_format_in_parquet_benchmark_spark.formats import get_format
from json_format_in_parquet_benchmark_spark.operators import dedup
from json_format_in_parquet_benchmark_spark.operators.graph import (
    label_propagation,
    pagerank,
)
from json_format_in_parquet_benchmark_spark.operators.multimodal import (
    media_table,
    phash_features,
    phash_nearest_neighbor,
)
from json_format_in_parquet_benchmark_spark.operators.semantic import (
    semantic_dup_flags,
)
from json_format_in_parquet_benchmark_spark.operators.similarity import (
    ivf_assign,
    ivf_assign_hier_exact,
    knn_graph_ivf_exact,
    pq_topk,
    topk_ivf,
)
from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.plans.queries_embedding_stats import (
    gram_matrix,
    kcenter_select,
)
from json_format_in_parquet_benchmark_spark.plans.queries_generator import (
    DOCGEN_VOCAB,
    _docgen_text,
)
from json_format_in_parquet_benchmark_spark.runtime import release_caches
from json_format_in_parquet_benchmark_spark.session import get_spark
from json_format_in_parquet_benchmark_spark.tables import table_path

DIM = 64
# Planted duplicates: 19s copy a plain row exactly (16 is its own source),
# 18s copy a plain row and mutate one token.
SRC_ID = (
    "case when id % 20 = 19 then id - 3 "
    "     when id % 20 = 18 then id - 2 else id end as src_id"
)
SPAN_60D_US = 60 * 86_400_000_000
# Split count of every synthesized and staged table: a constant, so the
# staged files and every arm's rows do not depend on the host's core count
# (4, the width staging took from a 4-core host's defaultParallelism).
STAGE_PARTITIONS = 4


def _h(arg: str, hexdigits: int = 15) -> str:
    """Portable pseudo-random bigint: the first hex digits of ``md5(arg)``."""
    return f"cast(conv(substr(md5({arg}), 1, {hexdigits}), 16, 10) as bigint)"


def _range(spark: SparkSession, n: int) -> DataFrame:
    return spark.range(n, numPartitions=STAGE_PARTITIONS)


def n_embeddings(n: int) -> int:
    return max(n * 2 // 5, 100)  # 2/5 of the documents, like sf0.1


# --- one synthesizer per staged table ------------------------------------


def _documents(spark: SparkSession, n: int) -> DataFrame:
    """Planted-duplicate documents: 20..50 tokens chosen by the SOURCE id."""
    return (
        _range(spark, n)
        .selectExpr("id as doc_id", SRC_ID, "cast(id % 20 = 18 as int) as mutate")
        .selectExpr(
            "doc_id",
            f"{_docgen_text(spark_side=True)} as text",
            "concat('l', src_id % 5) as lang",
        )
    )


def _text_documents(spark: SparkSession, n: int) -> DataFrame:
    """Documents for the text-pipeline arms: an 'en' slice (1 in 5 docs)
    and ~4% BM25 query-term hits."""
    h = _h("concat(id, ':', i)")
    terms = "".join(
        f" when {h} % 97 = {i} then '{w}'"
        for i, w in enumerate(("spark", "merge", "vector", "window"))
    )
    return _range(spark, n).selectExpr(
        "id as doc_id",
        "concat_ws(' ', transform(sequence(1, 20 + cast(id % 31 as int)), "
        f" i -> case{terms} else concat('w', {h} % {DOCGEN_VOCAB}) end)) as text",
        "case when id % 5 = 0 then 'en' else concat('l', id % 5) end as lang",
    )


def _embeddings(spark: SparkSession, n: int) -> DataFrame:
    """5% near-dups: the predecessor's vector with one coordinate nudged by
    0.01 (cosine stays ~1)."""
    h = _h("concat(src_id, '#', j)")
    return (
        _range(spark, n_embeddings(n))
        .selectExpr(
            "id as vec_id",
            "case when id % 20 = 19 then id - 1 else id end as src_id",
            "cast(id % 20 = 19 as int) as nudge",
        )
        .selectExpr(
            "vec_id",
            f"transform(sequence(0, {DIM - 1}), "
            f" j -> cast(({h} % 2001 - 1000) as float) / 1000.0f"
            " + cast(case when nudge = 1 and j = 0 then 0.01 else 0.0 end as float)"
            ") as embedding",
        )
    )


def _graph_edges(spark: SparkSession, n: int) -> DataFrame:
    """Symmetric 4-regular graph over n nodes."""
    raw = _range(spark, n).selectExpr(
        "id as a", f"(id * 7 + 1) % {n} as b", f"(id * 13 + 3) % {n} as c"
    )
    return (
        raw.selectExpr("a as src", "b as dst")
        .union(raw.selectExpr("b", "a"))
        .union(raw.selectExpr("a", "c"))
        .union(raw.selectExpr("c", "a"))
    )


def _cc_edges(spark: SparkSession, n: int) -> DataFrame:
    """10-node components (ring + star chords, diameter 2) over 5n nodes:
    ~10x the minhash pair graph, every node's rep its block start."""
    ring = _range(spark, n * 5).selectExpr(
        "id as doc_a", "case when id % 10 < 9 then id + 1 else id - 9 end as doc_b"
    )
    star = (
        _range(spark, n * 5)
        .where("id % 10 >= 2")
        .selectExpr("id as doc_a", "id - id % 10 as doc_b")
    )
    return ring.union(star)


def _salted(salt: str) -> str:
    return f"concat('{salt}', id)"


def _user(n: int) -> str:
    return f"{_h('cast(id as string)')} % {max(n // 20, 100)}"


def _sweep_events(spark: SparkSession, n: int) -> DataFrame:
    """Evenly spaced events over 60 days with md5 sub-second jitter (the
    spacing is computed in Python: id * span overflows int64 past ~1.8M
    rows under ANSI mode)."""
    return _range(spark, n).selectExpr(
        "id as event_id",
        f"{_user(n)} as user_id",
        f"timestamp_micros(id * {max(SPAN_60D_US // n, 1)}L"
        f" + ({_user(n)}) % 999983) as ts",
    )


def _arrival_events(spark: SparkSession, n: int) -> DataFrame:
    """Uniform random arrival times over 60 days: per-user gaps spread over
    decades of magnitude, like the real events table (evenly spaced ids
    make every gap equal and collapse the two-phase bucketing)."""
    return _range(spark, n).selectExpr(
        "id as event_id",
        f"{_user(n)} as user_id",
        f"timestamp_micros({_h(_salted('t:'), 14)} % {SPAN_60D_US}L) as ts",
    )


def _sink_events(spark: SparkSession, n: int) -> DataFrame:
    """Full-schema events for the sink arms."""
    return _range(spark, n).selectExpr(
        "id as event_id",
        f"{_user(n)} as user_id",
        f"timestamp_micros(1700000000000000L + {_h(_salted('t:'), 14)}"
        f" % {SPAN_60D_US}L) as ts",
        "element_at(array('click','view','purchase','scroll','login','logout',"
        "'share','search'), cast(id % 8 + 1 as int)) as event_type",
        f"cast({_h(_salted('v:'), 12)} % 1000000 as double) / 100.0 as value",
    )


def _trading_lineitem(spark: SparkSession, n: int) -> DataFrame:
    """Key columns of a trading graph: n lines, n/10 orders, n/100 suppliers."""
    return _range(spark, n).selectExpr(
        f"{_h(_salted('o:'))} % {max(n // 10, 10)} as l_orderkey",
        f"{_h(_salted('s:'))} % {max(n // 100, 10)} as l_suppkey",
    )


def _trading_orders(spark: SparkSession, n: int) -> DataFrame:
    return _range(spark, max(n // 10, 10)).selectExpr(
        "id as o_orderkey", f"{_h(_salted('c:'))} % {max(n // 20, 25)} as o_custkey"
    )


def _sketch_lineitem(spark: SparkSession, n: int) -> DataFrame:
    """The three key columns the NDV estimators read (~4 lines per order)."""
    return _range(spark, n).selectExpr(
        "id div 4 as l_orderkey",
        f"{_h(_salted('p:'), 12)} % {max(n // 10, 100)} as l_partkey",
        "cast(id % 4 + 1 as int) as l_linenumber",
    )


def _pareto_lineitem(spark: SparkSession, n: int) -> DataFrame:
    return _range(spark, n).selectExpr(
        "id div 6 as l_partkey",
        f"cast(900 + {_h(_salted('e:'), 12)} % 5000000 as double) / 100.0"
        " as l_extendedprice",
        "cast(id % 11 as double) / 100.0 as l_discount",
    )


def _rfm_orders(spark: SparkSession, n: int) -> DataFrame:
    """Orders over 1992-1998 like TPC-H, ~20 per customer."""
    span_7y_us = 7 * 365 * 86_400_000_000
    base_us = 694_224_000_000_000  # 1992-01-01 UTC
    return _range(spark, n).selectExpr(
        "id as o_orderkey",
        f"{_h(_salted('c:'))} % {max(n // 20, 100)} as o_custkey",
        f"timestamp_micros({base_us}L + {_h(_salted('d:'), 14)} % {span_7y_us}L)"
        " as o_orderdate",
        f"cast(900 + {_h(_salted('p:'), 12)} % 55000000 as double) / 100.0"
        " as o_totalprice",
    )


def _json_docs(spark: SparkSession, n: int) -> DataFrame:
    """One small JSON document per row, stored as a plain string."""
    return _range(spark, n).selectExpr(
        "concat('{\"k\": ', id % 1000000, ', \"name\": \"evt_', id % 97,"
        " '\", \"pad\": \"', substr(md5(cast(id as string)), 1, 16), '\"}') as doc"
    )


def _json_jsonb(spark: SparkSession, n: int) -> DataFrame:
    return get_format("jsonb").encode(_json_docs(spark, n))


def _json_shredded(spark: SparkSession, n: int) -> DataFrame:
    return _json_docs(spark, n).select(
        F.from_json("doc", "k bigint, name string, pad string").alias("s")
    )


class Table(NamedTuple):
    sf: str  # staged at <workdir>/<sf>_<n>/<name>.parquet
    name: str
    synth: Callable[[SparkSession, int], DataFrame]
    fmt: str | None = None  # write through this format's flush


TABLES: dict[str, Table] = {
    "documents": Table("docs", "documents", _documents),
    "text_documents": Table("text", "documents", _text_documents),
    "embeddings": Table("emb", "embeddings", _embeddings),
    "graph_edges": Table("graph", "edges", _graph_edges),
    "cc_edges": Table("cc", "edges", _cc_edges),
    "sweep_events": Table("sweep", "events", _sweep_events),
    "arrival_events": Table("arrival", "events", _arrival_events),
    "sink_events": Table("sink", "events", _sink_events),
    "trading_lineitem": Table("trading", "lineitem", _trading_lineitem),
    "trading_orders": Table("trading", "orders", _trading_orders),
    "sketch_lineitem": Table("sketch", "lineitem", _sketch_lineitem),
    "pareto_lineitem": Table("pareto", "lineitem", _pareto_lineitem),
    "rfm_orders": Table("rfm", "orders", _rfm_orders),
    "json_plain": Table("pathq", "plain", _json_docs),
    "json_jsonb": Table("pathq", "jsonb", _json_jsonb, fmt="jsonb"),
    "json_shredded": Table("pathq", "shred", _json_shredded),
}


def sf_dir(workdir: str, key: str, n: int) -> str:
    return os.path.join(workdir, f"{TABLES[key].sf}_{n}")


def stage(spark: SparkSession, workdir: str, key: str, n: int) -> None:
    """Synthesize table ``key`` at size n and write it under its sf_dir."""
    t = TABLES[key]
    df = t.synth(spark, n).repartition(STAGE_PARTITIONS)
    path = table_path(sf_dir(workdir, key, n), t.name)
    if t.fmt:
        get_format(t.fmt).flush(df, path)
    else:
        df.write.mode("overwrite").parquet(path)


# --- the arm table -------------------------------------------------------


class Arm(NamedTuple):
    label: str
    tables: tuple[str, ...]  # keys of TABLES, all in one sf_dir
    run: str | Callable[[SparkSession, str], int]  # registered query name
    largest_only: bool = False  # run at the largest --sizes entry only
    once: bool = False  # one run whatever --trials says: the output is the point


def _read(spark: SparkSession, sf: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(sf, name))


def _op(op, table: str, *args, **kw) -> Callable[[SparkSession, str], int]:
    """Arm body: the row count of ``op(<staged table>, *args, **kw)``."""
    return lambda spark, sf: op(_read(spark, sf, table), *args, **kw).count()


def _planted_recall(spark: SparkSession, sf: str, n: int) -> int:
    """n_found/n_true per (detector, planted kind), printed as one JSON line
    each: did the banded/blocked shapes still FIND the duplicates at this
    scale?  Truth is structural (19s copy 16s, 18s copy 16s one token off,
    so 18 and 19 are near-dups too); returns the truth size."""
    docs = _read(spark, sf, "documents")
    base = _range(spark, n).selectExpr("id as doc_id", SRC_ID)
    # Filters over a range: each detector's join recomputes it, unpinned.
    truth = (
        base.where("doc_id % 20 = 19")
        .selectExpr("src_id as doc_a", "doc_id as doc_b", "'exact' as kind")
        .union(
            base.where("doc_id % 20 = 18").selectExpr(
                "src_id as doc_a", "doc_id as doc_b", "'near' as kind"
            )
        )
        .union(
            base.where(f"doc_id % 20 = 18 and doc_id + 1 < {n}").selectExpr(
                "doc_id as doc_a", "doc_id + 1 as doc_b", "'near' as kind"
            )
        )
    )
    n_truth = truth.count()
    for det, pairs in (
        ("minhash_lsh", lambda: dedup.minhash_lsh_pairs(docs, "text", "doc_id")),
        # Uncapped like the registry recall twin: the degenerate-bucket cap
        # must not be conflated with banding loss.
        (
            "simhash",
            lambda: dedup.simhash_pairs(docs, "text", "doc_id", max_bucket=None),
        ),
        (
            "ngram_prefix",
            lambda: dedup.ngram_jaccard_pairs_prefix(docs, "text", "doc_id"),
        ),
    ):
        print(f"[probe] start recall_{det}", file=sys.stderr, flush=True)
        found = pairs().select(F.col("doc_a").alias("fa"), F.col("doc_b").alias("fb"))
        got = (
            truth.join(
                found,
                (truth.doc_a == F.col("fa")) & (truth.doc_b == F.col("fb")),
                "left",
            )
            .groupBy("kind")
            .agg(
                F.count(F.lit(1)).alias("n_true"),
                F.sum(F.expr("case when fa is not null then 1 else 0 end")).alias(
                    "n_found"
                ),
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
                        "recall": round(row["n_found"] / row["n_true"], 4),
                    }
                ),
                flush=True,
            )
        release_caches()
    return n_truth


def _cc_bigraph(spark: SparkSession, sf: str) -> int:
    """Distributed min-label CC (the union-find fast path off) on a graph
    past the 2M-edge driver gate at the large tiers; the known answer is
    checked inside the timing."""
    out = dedup.connected_components(_read(spark, sf, "edges"), driver_max_edges=0)
    bad = out.where("cluster_rep != doc_id - doc_id % 10").count()
    assert bad == 0, f"{bad} wrong component reps"
    return out.count()


def _query(name: str) -> Callable[[SparkSession, str], int]:
    return lambda spark, sf: REGISTRY[name].fn(spark, sf).count()


def _path_max(table: str, path_k: Callable[[DataFrame], DataFrame]):
    """max($.k) over a stored JSON representation, scan and decode
    included; ``path_k`` selects $.k as a one-column string frame."""

    def run(spark: SparkSession, sf: str) -> int:
        k = path_k(_read(spark, sf, table)).toDF("k")
        return len(k.agg(F.max("k")).collect())

    return run


def arms(n: int) -> tuple[Arm, ...]:
    """Every arm at size n.  Scale knobs grow with N where a deployment
    would grow them: LSH planes, IVF cells and SemDeDup clusters hold
    per-bucket occupancy constant."""
    n_emb = n_embeddings(n)
    n_planes = max(8, (n_emb - 1).bit_length() + 2)
    n_cells = max(16, n_emb // 500)
    docs, embs, edges = ("documents",), ("embeddings",), ("graph_edges",)
    trading = ("trading_lineitem", "trading_orders")

    def hier(embs_df: DataFrame) -> DataFrame:
        return ivf_assign_hier_exact(embs_df, "embedding", "vec_id", n_cells, DIM)

    def ivf_topk(spark: SparkSession, sf: str) -> int:
        e = _read(spark, sf, "embeddings")
        return topk_ivf(
            e, e.limit(8), "embedding", "vec_id", k=5, n_cells=n_cells, dim=DIM,
            assigned=hier(e).withColumnRenamed("vec_id", "neighbor_id"),
        ).count()

    def knn_graph(spark: SparkSession, sf: str) -> int:
        e = _read(spark, sf, "embeddings")
        return knn_graph_ivf_exact(
            e, "embedding", "vec_id", k=5, n_cells=n_cells, dim=DIM, assigned=hier(e)
        ).count()

    def minhash_clusters(**kw):
        return lambda spark, sf: dedup.connected_components(
            dedup.minhash_lsh_pairs(_read(spark, sf, "documents"), "text", "doc_id"),
            **kw,
        ).count()

    def text_op(op, **kw):
        return _op(op, "documents", "text", "doc_id", **kw)

    def vec_op(op, *args, **kw):
        return _op(op, "embeddings", "embedding", "vec_id", *args, **kw)

    return (
        # Text dedup over the planted corpus.  simhash_blocks (blocks=6: 20
        # bands x 30-bit keys) finds the same pairs as the contiguous 4 x
        # 15-bit default with 5x the band rows for 2^15x the buckets;
        # substring_spans_stride8 samples content-defined anchors for ~8x
        # less shuffled gram volume.
        Arm("exact_dedup", docs, text_op(dedup.exact_dedup)),
        Arm("minhash_lsh", docs, text_op(dedup.minhash_lsh_pairs)),
        Arm("simhash", docs, text_op(dedup.simhash_pairs)),
        Arm("simhash_blocks", docs, text_op(dedup.simhash_pairs, blocks=6)),
        Arm("minhash_clusters", docs, minhash_clusters()),
        Arm(
            "minhash_clusters_distributed",
            docs,
            minhash_clusters(driver_max_edges=0),
            largest_only=True,
        ),
        Arm("ngram_jaccard", docs, text_op(dedup.ngram_jaccard_pairs)),
        Arm("ngram_prefix", docs, text_op(dedup.ngram_jaccard_pairs_prefix)),
        Arm("substring_spans", docs, text_op(dedup.substring_dup_spans)),
        Arm(
            "substring_spans_stride8",
            docs,
            text_op(dedup.substring_dup_spans, anchor_stride=8),
        ),
        Arm("containment_pairs", docs, text_op(dedup.containment_pairs)),
        Arm("repeated_segments", docs, text_op(dedup.repeated_segment_stats)),
        Arm(
            "planted_recall",
            docs,
            lambda spark, sf: _planted_recall(spark, sf, n),
            once=True,
        ),
        # Embeddings.  assign_flat_sql is the declarative flat assignment
        # (O(N * n_cells * dim), quadratic under the linear-n_cells rule);
        # the hierarchical integer-exact kernel is what the registered
        # IVF queries run.
        Arm(
            "embedding_near_dup",
            embs,
            vec_op(dedup.embedding_near_dup_pairs, n_planes=n_planes),
        ),
        Arm("ivf_topk", embs, ivf_topk),
        Arm("knn_graph_hier_exact", embs, knn_graph),
        Arm("assign_flat_sql", embs, vec_op(ivf_assign, n_cells, DIM)),
        Arm("assign_hier_exact", embs, vec_op(ivf_assign_hier_exact, n_cells, DIM)),
        Arm(
            "semantic_dedup",
            embs,
            vec_op(
                semantic_dup_flags,
                threshold=0.95,
                k=max(8, n_emb // 500),
                iters=2,
                dim=DIM,
            ),
        ),
        Arm("gram_matrix", embs, _op(gram_matrix, "embeddings")),
        Arm("pq_topk", embs, vec_op(pq_topk, n_queries=8, k=5)),
        Arm(
            "kcenter_8",
            embs,
            lambda spark, sf: len(kcenter_select(_read(spark, sf, "embeddings"), 8)),
        ),
        # Iterative graph operators: 10 supersteps checkpoint every 5, so
        # per-superstep cost stays flat with plan depth.
        Arm("pagerank_3iter", edges, _op(pagerank, "edges")),
        Arm("label_prop_3iter", edges, _op(label_propagation, "edges")),
        Arm("pagerank_10iter", edges, _op(pagerank, "edges", n_iters=10)),
        Arm("label_prop_10iter", edges, _op(label_propagation, "edges", n_iters=10)),
        Arm(
            "phash_neardup", docs,
            lambda s, sf: phash_nearest_neighbor(
                phash_features(media_table(_read(s, sf, "documents")))
            ).count(),
        ),
        Arm("cc_distributed_bigraph", ("cc_edges",), _cc_bigraph, largest_only=True),
        # Registered plans over staged sf_dirs: the probe times exactly
        # what the correctness gate checks.
        Arm("concurrency_sweep", ("sweep_events",), "events_concurrency_peak"),
        Arm("global_rownum", ("sweep_events",), "events_global_rownum"),
        Arm("chunk_semantic", ("text_documents",), "text_chunk_semantic"),
        Arm("dsir_importance", ("text_documents",), "sample_dsir_importance"),
        Arm("bm25_topk", ("text_documents",), "text_bm25_topk"),
        Arm("sq8_recall", embs, "similarity_sq8_recall"),
        Arm("betweenness", trading, "graph_betweenness_sampled"),
        Arm("pagerank_trading", trading, "graph_pagerank_trading"),
        Arm("communities_trading", trading, "graph_communities_trading"),
        Arm("pack_shards_two_phase", docs, "pack_token_shards"),
        Arm("sketch_hll_ndv", ("sketch_lineitem",), "sketch_hll_ndv"),
        Arm("sketch_kmv_ndv", ("sketch_lineitem",), "sketch_kmv_ndv"),
        Arm("interarrival_two_phase", ("arrival_events",), "events_interarrival_stats"),
        Arm("pareto_two_phase", ("pareto_lineitem",), "parts_abc_pareto"),
        Arm("rfm_segments", ("rfm_orders",), "customers_rfm_segments"),
        Arm("theta_intersection", ("rfm_orders",), "sketch_theta_intersection"),
        # Path query over three stored representations: per-row re-parse,
        # pre-parsed variant, shredded column.
        Arm(
            "pathq_reparse", ("json_plain",),
            _path_max("plain", lambda d: d.select(F.get_json_object("doc", "$.k"))),
        ),
        Arm(
            "pathq_variant", ("json_jsonb",),
            _path_max("jsonb", lambda d: get_format("jsonb").get_path(d, "$.k")),
        ),
        Arm(
            "pathq_shredded", ("json_shredded",),
            _path_max("shred", lambda d: d.select(F.col("s.k").cast("string"))),
        ),
        # Sinks write their layouts, then read them back for the readout.
        Arm("sink_partitioned", ("sink_events",), "sink_partitioned_events"),
        Arm("sink_zorder", ("sink_events",), "sink_zorder_events"),
    )


def timed(run: Callable[[], int], trials: int) -> tuple[float, int]:
    """Min seconds of ``trials`` runs and the last run's rows.  Long-lived
    local JVMs show multi-x noise (GC, JIT warmup), so the min is the
    reproducible cost of the plan; caches are released after each run so
    none inherits a predecessor's persisted blocks."""
    best, rows = None, 0
    for _ in range(trials):
        t0 = time.time()
        rows = run()
        secs = round(time.time() - t0, 2)
        release_caches()
        best = secs if best is None else min(best, secs)
    return best, rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="5000,50000,500000")
    ap.add_argument("--workdir", default="/tmp/jfipb_scale_probe")
    ap.add_argument(
        "--ops", default="", help="comma-separated arm labels to run (default: all)"
    )
    ap.add_argument(
        "--trials",
        type=int,
        default=2,
        help="measured trials per arm, min reported (1 for huge tiers)",
    )
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]
    ops = set(filter(None, args.ops.split(",")))
    trials = max(1, args.trials)

    spark = get_spark("scale-probe")
    results: dict[int, dict[str, tuple[float, int]]] = {}
    warm = False
    for n in sizes:
        staged: set[str] = set()
        r = results[n] = {}
        for arm in arms(n):
            if (ops and arm.label not in ops) or (arm.largest_only and n != max(sizes)):
                continue
            for key in arm.tables:
                if key not in staged:
                    stage(spark, args.workdir, key, n)
                    staged.add(key)
            sf = sf_dir(args.workdir, arm.tables[0], n)
            run = _query(arm.run) if isinstance(arm.run, str) else arm.run
            print(f"[probe] start {arm.label}", file=sys.stderr, flush=True)
            if not (warm or arm.once):
                # One untimed run takes the session's warm-up (first
                # Python worker, JIT) off the first timed arm's row.
                run(spark, sf)
                release_caches()
                warm = True
            secs, rows = timed(lambda: run(spark, sf), 1 if arm.once else trials)
            r[arm.label] = secs, rows
            print(
                json.dumps({"n_docs": n, "op": arm.label, "sec": secs, "rows": rows}),
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
