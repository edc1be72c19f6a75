"""Deduplication operators for large-scale text corpora.

Six strategies, each a pure DataFrame transformation:

- :func:`exact_dedup`            -- hash-groupBy on the raw value.
- :func:`normalized_dedup`       -- groupBy on a canonicalized token-set hash
  (catches reordered/duplicated-word copies).
- :func:`minhash_lsh_pairs`      -- MinHash signatures over word shingles +
  LSH banding for candidate generation + exact Jaccard verification.
- :func:`simhash_pairs`          -- 60-bit SimHash + signature-band-blocked
  Hamming join (multi-index, full recall).
- :func:`ngram_jaccard_pairs`    -- exact n-gram Jaccard: prefix-filter
  candidates, then a DF-cap scope filter (pairs sharing only stop-shingles
  are out of scope).
- :func:`embedding_near_dup_pairs` -- cosine near-duplicates over an
  embedding column, sign-LSH-bucket blocked + exact verify.

Scale design (the part that matters at 100 TB):
- Every hash is the portable md5-based hash (functions.hashing), so results
  are reproducible across cluster sizes AND cross-checkable in the DuckDB
  oracle -- no RNG, no nondeterministic seeds.
- MinHash/LSH: the only shuffles are (a) explode-shingles -> groupBy doc for
  signatures, (b) groupBy band bucket, (c) the candidate-pair verification
  join.  Candidate pairs -- not all pairs -- hit the expensive exact-Jaccard
  step; the all-pairs blowup never happens.  Band buckets with huge
  cardinality (degenerate shingles) would skew (b); AQE skew-join handles it,
  and `max_bucket` caps pathological buckets explicitly.
- SimHash: one explode + one groupBy to compute the per-bit sums, then a
  BAND-blocked self-join (the Manku/Jain/Sarma multi-index scheme): the
  signature splits into ``bands`` fixed bit-ranges and docs pair only when
  some band matches exactly.  With ``bands > max_hamming`` the pigeonhole
  principle guarantees every pair within the Hamming radius shares >= 1
  band, so banding loses NOTHING -- the output is identical to the all-pairs
  definition while the join cost drops from O(N^2) to
  O(bands * sum_b |bucket_b|^2) with 2^(bits/bands) buckets per band.
- Embedding near-dup: sign-LSH bucket blocking (reusing
  operators/similarity.sign_lsh_buckets) + exact cosine verification --
  the same candidate-then-verify shape as MinHash-LSH, never all-pairs.

The matching DuckDB oracle SQL lives in plans/queries_dedup.py.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import P31, hash64_sql_spark, perm_consts
from ..functions.text import shingles_spark, tokens_spark
from ..runtime import free, track_checkpoint, track_persist
from ..runtime import release_caches  # noqa: F401  (perfbench imports it from here)


# Partition count _spread raises a narrower input to.  A constant, not the
# core count, so a plan is the same on every host.  4 is the width a 4-vCPU
# host always had; at sf0.001 there it beat 8 (34 queries one-shot, summed).
SPREAD_PARTITIONS = 4


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to SPREAD_PARTITIONS ONLY when the input has fewer
    partitions (a small-file corpus arrives as one Parquet row group = one
    task, serializing the whole tokenize/explode/aggregate chain).  At real
    scale inputs already carry more partitions and this is an exact no-op --
    no shuffle is ever added to a well-partitioned input.
    """
    if df.rdd.getNumPartitions() < SPREAD_PARTITIONS:
        return df.repartition(SPREAD_PARTITIONS)
    return df


def exact_dedup(df: DataFrame, value_col: str, id_col: str) -> DataFrame:
    """Group identical values: (value_hash, n_copies, representative min id)."""
    return df.groupBy(F.md5(F.col(value_col)).alias("value_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min(id_col).alias("rep_id"),
    )


def normalized_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Dedup on the sorted distinct-token set -- catches shuffled copies."""
    toks = tokens_spark(text_col)
    canon = f"md5(concat_ws(' ', array_sort(array_distinct({toks}))))"
    return df.groupBy(F.expr(canon).alias("tokenset_hash")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(id_col).alias("rep_id"),
    )


def _shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Persisted (doc_id, shset): each doc's distinct word ``n``-gram
    shingles as one array.  Shingling (tokenize + slide + distinct) is the
    expensive scan-side step and every shingle-based operator reads its
    result several times (signatures or candidates, then both verify
    sides), so it is computed ONCE and cached -- ~20 bytes/shingle, the
    natural materialization point of these pipelines at any scale."""
    return track_persist(
        _spread(df).select(
            F.col(id_col).alias("doc_id"),
            F.expr(shingles_spark(tokens_spark(text_col), n)).alias("shset"),
        )
    )


def minhash_signatures(docsets: DataFrame, k: int = 16) -> DataFrame:
    """One row per doc of ``docsets`` (doc_id, shset) with k MinHash
    components m0..m{k-1}.

    ONE md5 per exploded shingle produces a 60-bit base hash; the k
    components are universal-hash permutations of it (exact int64
    arithmetic, functions.hashing.perm_consts) aggregated with cheap min()s
    -- 16x less hashing than salted-md5-per-component.  The explode+groupBy
    shape (rather than array_min(transform(...)) per component) keeps the
    md5 evaluated exactly once per shingle: projection collapse would
    otherwise duplicate the expensive lambda into every component.  Docs
    with zero shingles get no row (explode drops them).
    """
    sh = docsets.select("doc_id", F.explode("shset").alias("sh")).withColumn(
        "h31", F.expr(f"{hash64_sql_spark('sh')} % {P31}")
    )
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"({a} * h31 + {b}) % {P31}")).alias(f"m{j}")
            for j, (a, b) in enumerate(perm_consts(k))
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    docsets: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs (doc_a < doc_b, exact jaccard >= threshold).

    LSH banding: k minhashes split into `bands` bands of k/bands rows; docs
    sharing any band bucket become candidates; candidates are verified with
    EXACT shingle-set Jaccard, so the output has no false positives and the
    banding only affects recall (8 bands x 2 rows: P(catch) = 1-(1-J^2)^8,
    ~90% at J=0.5, ~100% at J>=0.8).

    ``max_bucket`` caps pathological band buckets: a bucket holding f docs
    produces f^2/2 candidate rows, so one degenerate bucket (boilerplate
    corpora hashing to the same band signature) can dominate the whole
    join.  Buckets larger than the cap are dropped from CANDIDATE
    generation only (pairs there usually co-occur in an uncapped band too);
    the cap is mirrored exactly in the DuckDB oracle.
    """
    rows = k // bands
    # Callers comparing against another shingle-based operator (the recall
    # harness) pass the SAME persisted ``docsets`` (doc_id, shset) to both
    # so the corpus is shingled once, not per arm.
    if docsets is None:
        docsets = _shingle_sets(df, text_col, id_col, n)
    # Docs with zero shingles never reach banding, so no degenerate
    # all-empty bucket exists.
    sig = minhash_signatures(docsets, k)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"m{b * rows + r}").cast("string") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(",", *parts).alias("band_hash"),
            ).alias(f"b{b}")
        )
    # Bucket-size guard as a window count over the SAME key the self-join
    # shuffles on -- one sort in the already-required exchange, no separate
    # aggregate/broadcast pass.  Persisted: both self-join sides consume it,
    # and without the cache each side re-runs the signature pipeline.
    wb = Window.partitionBy("band_idx", "band_hash")
    banded = track_persist(
        sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bb"))
        .select(
            "doc_id",
            F.col("bb.band_idx").alias("band_idx"),
            F.col("bb.band_hash").alias("band_hash"),
        )
        .withColumn("bsz", F.count(F.lit(1)).over(wb))
        .where(F.col("bsz") <= max_bucket)
        .drop("bsz")
    )
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    return _jaccard_verify(docsets, cand, threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 4,
    threshold: float = 0.4,
    df_cap: int = 50,
) -> DataFrame:
    """N-gram Jaccard near-dup pairs with the DF-capped OUTPUT contract.

    Output contract (unchanged since round 1, mirrored by the oracle):
    pairs with exact full-set Jaccard >= ``threshold`` that share at least
    one shingle appearing in at most ``df_cap`` documents — pairs whose
    every common shingle is boilerplate (> ``df_cap`` docs) are
    deliberately out of scope.

    Candidates come from the PPJoin prefix-filter bound
    (:func:`ngram_jaccard_pairs_prefix`) — provably a superset of all
    Jaccard >= t pairs, hence of this contract's output — then the DF-cap
    scope filter is applied to the few verified pairs with two
    broadcast-pruned scans of the shingle table.  The scale probe measured
    the earlier DF-capped posting-list self-join at 7.2x per 10x data vs
    5.9x for the prefix bound (results/scale_probe.txt).
    """
    from fractions import Fraction

    docsets = _shingle_sets(df, text_col, id_col, n)
    hot = (
        docsets.select(F.explode("shset").alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_cap)
        .select("sh")
    )
    # Exact rational threshold so the prefix length's ceil(t*|S|) is
    # integer arithmetic (Fraction("0.4") == 2/5 exactly; a float
    # 0.4*|S| can round the bound the wrong way).
    frac = Fraction(str(threshold))
    # PERSIST the verified pairs: the scope filter below consumes them
    # three times (broadcast keys, b-side prune, final semi-join) and
    # an unpersisted plan re-runs the whole prefix candidate+verify
    # chain per consumer (measured 2.8s -> 7.7s at 50k docs).
    pairs = track_persist(
        ngram_jaccard_pairs_prefix(
            df,
            text_col,
            id_col,
            n=n,
            threshold_num=frac.numerator,
            threshold_den=frac.denominator,
            docsets=docsets,
        )
    )
    # Scope filter: keep only pairs sharing >= 1 non-stop shingle.
    # Evaluated on the CANDIDATE PAIRS' shingle intersections, never
    # on the full (doc, shingle) table: the verified pair set is tiny
    # (it is the dedup OUTPUT), so re-deriving each pair's shared
    # shingles via array_intersect over broadcast-pruned docsets costs
    # |pairs| * |intersection| rows.  The first cut of this filter
    # joined the full exploded rare-shingle table against itself
    # keyed by pair — at 500k docs AQE measured the 19M-row string
    # side under the 32MB broadcast threshold by COMPRESSED size and
    # OOM'd building the hash relation (the known broadcast-
    # conversion trap, results/bench_notes.md).
    keys = pairs.select("doc_a", "doc_b")
    da = docsets.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sha"))
    # Prune the b-side to docs that appear in some pair BEFORE the
    # pair join, so both join inputs are |pairs|-bounded (docsets
    # rows carry whole shingle arrays — never shuffle the full table
    # for a filter over the output).
    db = docsets.join(
        F.broadcast(keys.select(F.col("doc_b").alias("doc_id")).distinct()),
        "doc_id",
        "left_semi",
    ).select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("shb"))
    cand_sh = (
        da.join(F.broadcast(keys), "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.explode(F.expr("array_intersect(sha, shb)")).alias("sh"),
        )
    )
    shared_rare = (
        cand_sh.join(F.broadcast(hot), "sh", "left_anti")
        .select("doc_a", "doc_b")
        .distinct()
    )
    return pairs.join(shared_rare, ["doc_a", "doc_b"], "left_semi")


def _jaccard_verify(
    docsets: DataFrame, cand: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the FULL
    shingle sets (the MinHash-LSH and prefix-filtered joins share it).
    Candidate pairs are rare, so they are broadcast into the cached
    per-doc shingle arrays and intersected JVM-side (array_intersect) --
    no exploded-shingle shuffle."""
    left = docsets.select(
        F.col("doc_id").alias("doc_a"), F.col("shset").alias("sha"), F.size("shset").alias("na")
    )
    right = docsets.select(
        F.col("doc_id").alias("doc_b"), F.col("shset").alias("shb"), F.size("shset").alias("nb")
    )
    return (
        left.join(F.broadcast(cand), "doc_a")
        .join(right, "doc_b")
        .withColumn("inter", F.expr("size(array_intersect(sha, shb))"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 4,
    threshold_num: int = 2,
    threshold_den: int = 5,
    docsets: DataFrame | None = None,
) -> DataFrame:
    """EXACT threshold-Jaccard self-join via prefix filtering (the
    PPJoin-family candidate bound: Bayardo et al. WWW'07, Chaudhuri et al.
    ICDE'06) -- no DF cap, no out-of-scope pairs.

    Order every document's shingles by ascending global document frequency
    (rarest first, shingle string as tie-break) and index only the first
    ``|S| - ceil(t*|S|) + 1`` of them.  If J(A,B) >= t, the smallest-order
    element of the intersection provably falls inside BOTH prefixes, so
    candidate generation over prefixes alone loses nothing; exact
    verification over the full sets then makes the output exactly
    {pairs with Jaccard >= t}.  Two wins over the DF-capped index: each
    surviving pair is generated once per shared PREFIX shingle (rare by
    construction, so posting lists are short), and hot shingles fall out
    of prefixes naturally instead of via a semantic-visible cap.

    The threshold is a rational ``threshold_num/threshold_den`` so the
    prefix length is computed in exact integer arithmetic
    (``ceil(t*|S|)`` via integer div) -- a float ``0.4*|S|`` can round the
    bound the wrong way and silently drop a true pair.
    """
    t = threshold_num / threshold_den
    if docsets is None:
        docsets = _shingle_sets(df, text_col, id_col, n)
    # Candidate stages run on the xxhash64 of each shingle, not the string:
    # the shingle table is the biggest thing shuffled here (twice for the
    # windows, twice for the self-join), and an int64 shuffles ~3x fewer
    # bytes than a ~25-char string.  A hash collision can only ADD a
    # candidate pair (the full-set verification discards it), never lose
    # one, so exactness is untouched; (dfreq, hash) is still one global
    # canonical order, which is all the prefix theorem needs.
    sh = docsets.select(
        "doc_id", F.size("shset").alias("n_sh"), F.explode("shset").alias("s")
    ).select("doc_id", "n_sh", F.xxhash64("s").alias("sh"))
    # Attach each shingle's document frequency with a window over sh, NOT a
    # groupBy+join: the join form invites AQE to broadcast the many-million-
    # row dfreq side (its COMPRESSED shuffle size can sit under the
    # broadcast threshold while the in-memory hash relation is gigabytes --
    # observed OOM at 500k docs).  The window is one shuffle on sh and
    # cannot be broadcast-converted.
    wsh = Window.partitionBy("sh")
    w = Window.partitionBy("doc_id").orderBy("dfreq", "sh")
    prefix = (
        sh.withColumn("dfreq", F.count(F.lit(1)).over(wsh))
        .withColumn("rn", F.row_number().over(w))
        .where(
            F.col("rn")
            <= F.col("n_sh")
            - F.expr(
                f"({threshold_num} * n_sh + {threshold_den} - 1)"
                f" div {threshold_den}"
            )
            + F.lit(1)
        )
        .select("doc_id", "sh")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _jaccard_verify(docsets, cand, t)


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 24, w: int = 16
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 -- the MOSS local fingerprinting algorithm): hash every
    k-char gram of the document, slide a w-gram window, keep each window's
    MINIMUM hash, distinct per document.

    The guarantee that makes this the copy-detection primitive: any shared
    substring of length >= k + w - 1 between two documents produces at
    least one IDENTICAL fingerprint in both -- position-independent, so
    passages copied at different offsets still collide (what fixed-stride
    chunk hashing fundamentally cannot do).  Fingerprint density is
    ~2/(w+1) of grams, so the index is a small fraction of the text.

    This is the min-winnowing variant (window min, not rightmost-min):
    same guarantee, and order-free, so the identical set is expressible as
    one window function in both engines.
    """
    grams = (
        _spread(df)
        .where(F.length(text_col) >= k)
        .select(
            F.col(id_col).alias("doc_id"),
            F.length(text_col).alias("n_chars"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, length({text_col}) - {k} + 1),"
                    f" i -> substring({text_col}, i, {k}))"
                )
            ).alias("p0", "gram"),
        )
        .select(
            "doc_id",
            "n_chars",
            (F.col("p0") + 1).alias("pos"),
            F.expr(hash64_sql_spark("gram")).alias("gh"),
        )
    )
    wf = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.withColumn("fp", F.min("gh").over(wf))
        .where(F.col("pos") <= F.col("n_chars") - k - w + 2)
        .select("doc_id", "fp")
        .distinct()
    )


def winnow_span_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 24,
    w: int = 16,
    df_cap: int = 20,
    min_shared: int = 3,
) -> DataFrame:
    """Shared-passage pairs via winnowing fingerprints: documents sharing
    >= ``min_shared`` rare fingerprints (each witnessing a >= k+w-1-char
    common substring).  Fingerprints in more than ``df_cap`` docs are
    boilerplate dropped from pair generation (the same DF cut as the
    n-gram index, bounding the posting-list self-join to df_cap^2 per
    fingerprint) -- the contamination / copied-passage detector a training
    pipeline runs between corpus snapshots."""
    fps = track_persist(winnow_fingerprints(df, text_col, id_col, k, w))
    hot = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_cap)
        .select("fp")
    )
    idx = fps.join(F.broadcast(hot), "fp", "left_anti")
    a, b = idx.alias("a"), idx.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over an undirected pair graph: (node,
    cluster_rep) where cluster_rep is the component's minimum node id.

    Two physical strategies behind one exact semantic (both produce the
    component-min fixpoint, so the recursive-CTE oracle covers either):

    - **Driver union-find** when the pair graph has at most
      ``driver_max_edges`` undirected pairs -- the same class of
      size-based plan choice as a broadcast-join threshold.  The collect
      materializes 2x that many Row objects (both directions), and a
      Python Row costs ~100-200 bytes, so the 2M default budgets roughly
      0.5-1 GB of driver heap -- sized for a 128 GiB driver; lower it on
      small drivers.  Near-dup pair graphs are tiny relative to the
      corpus (pairs are the OUTPUT of candidate verification, not the
      corpus), so this is the common case, and it replaces ~4 Spark jobs
      per propagation round with one collect: measured 5.2s -> ~0.3s on
      a 256-edge graph at sf0.1.
    - **Iterative min-label propagation** (Pregel-lite on DataFrames)
      otherwise: each round every node takes the min of its own label and
      its neighbors' labels; convergence needs at most diameter rounds
      (duplicate clusters are near-cliques, so 2-3 in practice;
      ``max_iter`` bounds pathological chains).  Each round is one
      shuffle of the label table on node id; at 100 TB both sides stay
      partitioned on node so the join is co-located.

    The fixpoint (component-min) is iteration-order independent, which is
    what makes an exact cross-engine oracle (recursive CTE) possible.
    """
    both = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
    # Persist PRE-PARTITIONED on the join key: InMemoryRelation preserves the
    # repartition's hash partitioning, so every propagation round's
    # both-with-labels join consumes the cache with no re-exchange of the
    # edge table (labels is likewise node-partitioned by its producing
    # aggregation/join).  One shuffle per round remains: the groupBy on the
    # destination node.
    both = track_persist(both.repartition("s"))

    # both holds 2x directed copies; compare UNDIRECTED pairs to the knob
    # so driver_max_edges means what the docstring says.
    n_edges = both.count() // 2
    if n_edges <= driver_max_edges:
        rows = both.collect()
        free(both)
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            s, d = r[0], r[1]
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                # union by min keeps the root the component minimum
                if rd < rs:
                    rs, rd = rd, rs
                parent[rd] = rs

        out = [(node, find(node)) for node in parent]
        spark = edges.sparkSession
        node_type = dict(both.dtypes)["s"]
        return spark.createDataFrame(
            out, f"doc_id {node_type}, cluster_rep {node_type}"
        )
    labels = track_persist(
        both.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # Convergence check: labels only ever DECREASE (least of own and
    # neighbor minima), so sum(label) strictly decreases until the fixpoint
    # -- one cheap aggregate per round instead of a change-detection join.
    prev_sum = labels.agg(F.sum("label")).first()[0]
    converged = False
    ckpt = None  # the last checkpoint: every later round's lineage reads it
    for it in range(max_iter):
        # One round = one aggregation: min over (own label ∪ labels arriving
        # over edges).  Union + groupBy-min replaces the former
        # groupBy + left-join pair -- same fixpoint, one fewer stage per
        # round, and map-side partial aggregation collapses the per-edge
        # rows before the single shuffle.
        propagated = both.join(labels, both.s == labels.node).select(
            F.col("d").alias("node"), "label"
        )
        round_df = (
            labels.unionByName(propagated)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        cut = (it + 1) % 5 == 0
        if cut:
            # Every 5th round, truncate lineage instead of only caching:
            # the per-round persists bound RECOMPUTATION but the logical
            # plan still deepens every round, and analyzer/optimizer time
            # grows with it on long-diameter graphs.  eager=True both
            # materializes (so the convergence sum below reads the
            # checkpointed RDD) and serves as this round's cache.
            new_labels = track_checkpoint(round_df, eager=True)
        else:
            new_labels = track_persist(round_df)
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        # The previous round goes now, except the last checkpoint: later
        # rounds read it through their lineage until a new checkpoint cuts
        # it.  Between rounds only the newest round and the last checkpoint
        # (|V| rows each) stay pinned; they stay tracked after the loop,
        # since the returned frame reads them.
        if labels is not ckpt:
            free(labels)
        if cut:
            if ckpt is not None:
                free(ckpt)
            ckpt = new_labels
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    free(both)
    if not converged:
        # Non-converged labels WILL diverge from the recursive-CTE oracle on
        # long-chain graphs; surface it so a mismatch is attributable.
        warnings.warn(
            f"connected_components: min-label propagation did not reach the "
            f"fixpoint within max_iter={max_iter} rounds; labels may be "
            f"non-minimal for components with diameter > {max_iter}",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_rep"))


def simhash_docs(
    df: DataFrame, text_col: str, id_col: str, bits: int = 60, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Per-doc SimHash over tokens (with multiplicity): bit j of the signature
    is the sign of sum over tokens of (2*bit_j(hash(token)) - 1).

    Computed as sign(2*B_j - N) where B_j = sum of bit_j(h) over tokens and
    N = token count -- exact integer arithmetic, identical in the oracle,
    and branch-free per (row, bit) (a bare shiftright-and instead of a
    CASE).  One explode + ONE aggregation: map-side partial aggregation
    collapses each doc's tokens before the shuffle, so the exchanged rows
    are one (doc, 61 sums) tuple per doc per map partition.
    """
    tok = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in extra_cols],
        F.explode(F.expr(tokens_spark(text_col))).alias("tok"),
    ).withColumn("h", F.expr(hash64_sql_spark("tok")))
    bit_aggs = [
        F.sum(F.expr(f"shiftright(h, {j}) & 1")).alias(f"b{j}") for j in range(bits)
    ] + [F.count(F.lit(1)).alias("n_tok")]
    sums = tok.groupBy("doc_id", *extra_cols).agg(*bit_aggs)
    sim = None
    for j in range(bits):
        term = F.when(2 * F.col(f"b{j}") - F.col("n_tok") >= 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = term if sim is None else sim + term
    return sums.select("doc_id", *extra_cols, sim.alias("simhash"))


def simhash_band_exprs(
    bits: int,
    bands: int,
    max_hamming: int,
    blocks: int | None = None,
    dialect: str = "spark",
) -> list[tuple[int, str]]:
    """(band_idx, SQL-expression-over-`simhash`) list for the banding scheme.

    Rendered per ``dialect`` (``shiftright(x, n)`` in Spark, ``x >> n`` in
    DuckDB) but arithmetically IDENTICAL int64 values, so a bucket cap
    applied to these band values prunes the SAME buckets on both sides.

    Two schemes, both full-recall by pigeonhole (Manku et al. WWW'07):

    * contiguous (``blocks=None``): ``bands`` contiguous ranges of
      ``bits/bands`` bits; a pair within Hamming radius ``max_hamming``
      cannot differ in every band when ``bands > max_hamming``.  Band
      width = bits/bands -- 2^15 buckets at the 60-bit/4-band default,
      which is GATE-sized: average occupancy grows as N/2^width, so
      candidate pairs grow ~N^2/2^width -- a quadratic cliff at 10^9 docs.
    * block-combination (``blocks=m``): the signature splits into m
      blocks of bits/m bits and each band is one of C(m, m-k) combinations
      of (m-k) blocks (k = max_hamming), keyed on their CONCATENATION.
      <= k flipped bits touch <= k blocks, so some (m-k)-combination is
      bit-identical -- full recall -- while the band key widens to
      (m-k)*(bits/m) bits.  SIZING RULE: pick m (> k) so that
      2^((m-k)*bits/m) >= corpus size / target-bucket-occupancy; at
      bits=60, k=3: m=6 gives 20 bands of 30-bit keys (2^30 buckets --
      good to ~10^10 docs at occupancy ~10), m=5 gives 10 bands of
      24-bit keys.  Table count C(m, m-k) is the price of recall; 20
      scan-side duplicates of one int64 column is cheap next to an
      N^2/2^15 join.
    """
    if bands <= max_hamming and blocks is None:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) "
            "for full-recall banding"
        )

    def _shr(n: int) -> str:
        if n == 0:
            return "simhash"
        if dialect == "duckdb":
            return f"(simhash >> {n})"
        return f"shiftright(simhash, {n})"

    if blocks is None:
        width = bits // bands
        return [
            (b, f"{_shr(b * width)} & {(1 << width) - 1}")
            for b in range(bands)
        ]
    from itertools import combinations

    m, k = blocks, max_hamming
    if m <= k:
        raise ValueError(f"blocks ({m}) must exceed max_hamming ({k})")
    bw = bits // m
    if (m - k) * bw > 62:
        raise ValueError("combined band key exceeds int64")
    out: list[tuple[int, str]] = []
    for idx, combo in enumerate(combinations(range(m), m - k)):
        # Concatenate the chosen blocks into one int64 key: block j of the
        # combo occupies bit range [j*bw, (j+1)*bw).
        parts = [
            f"(({_shr(c * bw)} & {(1 << bw) - 1}) * {1 << (j * bw)})"
            for j, c in enumerate(combo)
        ]
        out.append((idx, " + ".join(parts)))
    return out


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    blocks: int | None = None,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming via signature-band
    blocking (multi-index SimHash, the scheme of Manku et al. WWW'07).

    Banding scheme and the width-vs-N sizing rule: see
    ``simhash_band_exprs`` -- contiguous bands by default (full recall,
    2^(bits/bands) buckets/band), or the block-combination form
    (``blocks=m``) whose band keys widen to (m-k)*(bits/m) bits for
    corpus-sized bucket counts at 10^9+ docs.  Full recall either way, so
    absent the cap the output equals the all-pairs definition exactly.

    ``max_bucket`` caps pathological band buckets exactly like
    ``minhash_lsh_pairs``: a bucket holding f docs produces f^2/2 candidate
    rows, so one degenerate bucket (boilerplate corpora collapsing to one
    band value) can dominate the whole join.  Buckets larger than the cap
    are dropped from CANDIDATE generation only (pairs there usually
    co-occur in an uncapped band too); callers' oracles must mirror the
    cap over the same band values (``simhash_band_exprs`` renders
    identically in DuckDB).  ``max_bucket=None`` disables the guard.
    """
    band_exprs = simhash_band_exprs(bits, bands, max_hamming, blocks=blocks)
    # Persist signatures ONLY on the uncapped path, where the banded
    # relation itself is unpersisted and both self-join sides would re-run
    # the whole tokenize/explode/aggregate pipeline.  With the bucket cap,
    # the capped ``banded`` below is the persisted dual-consumer relation
    # and a sims cache would be populated once and never re-read.
    sims = simhash_docs(df, text_col, id_col, bits=bits)
    if max_bucket is None:
        sims = track_persist(sims)
    band_structs = [
        F.struct(
            F.lit(idx).alias("band_idx"),
            F.expr(sql).alias("band_val"),
        )
        for idx, sql in band_exprs
    ]
    banded = sims.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bb")
    ).select(
        "doc_id",
        "simhash",
        F.col("bb.band_idx").alias("band_idx"),
        F.col("bb.band_val").alias("band_val"),
    )
    if max_bucket is not None:
        from pyspark.sql import Window

        # Bucket-size guard as a window count over the SAME key the
        # self-join shuffles on -- one sort inside the already-required
        # exchange, no separate aggregate pass (the minhash_lsh_pairs
        # pattern).  Persisted so both self-join sides reuse it.
        wb = Window.partitionBy("band_idx", "band_val")
        banded = track_persist(
            banded.withColumn("bsz", F.count(F.lit(1)).over(wb))
            .where(F.col("bsz") <= max_bucket)
            .drop("bsz")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()  # a pair may collide in several bands
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.4,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Cosine near-duplicate candidate pairs, blocked on the deterministic
    sign-LSH bucket (operators/similarity.sign_lsh_buckets) and verified with
    the exact cosine.

    Candidate = same 2^n_planes-way LSH bucket, so the self-join cost is
    O(sum_b |bucket_b|^2), not O(N^2) -- identical blocking to the ANN scale
    path, and (hyperplanes being md5-derived constants) exactly reproducible
    in the DuckDB oracle.  Like any LSH blocking this trades recall for
    scale: pairs whose vectors land in different buckets are not considered
    (P[same bucket] = (1 - theta/pi)^n_planes).
    """
    from ..functions.vectors import dot_spark, norm_spark
    from .similarity import bucket_column

    # One projection computes id, vector, norm AND bucket (no join back to a
    # separate bucket table), persisted once for both self-join sides.  The
    # norm is precomputed per VECTOR because higher-order array expressions
    # (zip_with/aggregate) evaluate interpreted, outside whole-stage
    # codegen: per candidate PAIR they would cost O(candidates * dim)
    # interpreted work.  cos = dot / (norm_a * norm_b) is the identical IEEE
    # computation the oracle runs (same dot, same sqrt operands), factored.
    vecs = track_persist(
        _spread(df).select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("v"),
            F.expr(norm_spark(vec_col)).alias("nrm"),
            bucket_column(vec_col, n_planes, dim).alias("bucket"),
        )
    )
    a = vecs.alias("a")
    b = vecs.alias("b")
    cos = f"{dot_spark('a.v', 'b.v')} / (a.nrm * b.nrm)"
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.expr(cos).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def substring_dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    anchor_len: int = 40,
    anchor_stride: int = 1,
) -> DataFrame:
    """Exact-substring duplicate spans at suffix-array granularity (the
    Lee et al. 2022 remove-duplicate-substring policy, distributed).

    Every ``anchor_len``-char window of every document is reduced to a
    60-bit hash; windows whose content occurs in >= 2 DISTINCT documents
    mark their start positions, and per document the marked
    [pos, pos+L) intervals merge into maximal spans via gaps-and-islands
    (running-max window).  Output per doc: span count, duplicated chars
    (what the policy removes), total chars, kept chars.

    100 TB shape: the map stage emits only (doc_id, pos, int64 hash) --
    gram strings never outlive the scan projection -- the >=2-docs
    reduction and the semi-join back are one shuffle each on the hash,
    and island merging is one window shuffle on doc_id.  Equivalent to
    the suffix-array pass for all spans >= anchor_len, with no global
    sort of the corpus.  Within-document repeats are out of scope
    (cross-document contamination policy).
    """
    spans = substring_dup_islands(df, text_col, id_col, anchor_len, anchor_stride)
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("dup_chars"),
        F.min("n_chars").cast("bigint").alias("n_chars"),
        (F.min("n_chars") - F.sum(F.col("e") - F.col("s") + 1))
        .cast("bigint")
        .alias("kept_chars"),
    )


def substring_dup_islands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    anchor_len: int = 40,
    anchor_stride: int = 1,
) -> DataFrame:
    """The maximal cross-document duplicated spans themselves:
    (doc_id, n_chars, s, e) per merged island (1-based char positions,
    inclusive).  Shared by the span-census and the remove-policy
    operators -- see :func:`substring_dup_spans` for the algorithm.

    ``anchor_stride`` > 1 is the 100 TB knob: instead of shuffling one
    row per character position, keep only windows whose CONTENT hash
    satisfies ``gh % stride == 0`` -- content-defined (mod-p) anchor
    sampling, the Manber-1994 fingerprint selection.  Because selection
    depends on window content alone, both copies of a duplicated passage
    select exactly the same relative anchors regardless of byte offset,
    so cross-document matching still works; the filter is map-side (no
    extra shuffle) and cuts every downstream shuffle's volume by ~stride.
    Trade-off (documented, probabilistic): a duplicated span only
    surfaces if >= 1 of its windows is selected -- P(miss) =
    (1 - 1/stride)^(span_len - anchor_len + 1), negligible for spans a
    few strides longer than ``anchor_len`` -- and island boundaries are
    anchor-granular, so span ends truncate by O(stride) expected chars.
    stride=1 (default) is the exact census the oracle pins."""
    from ..functions.hashing import hash64_sql_spark

    L = anchor_len
    docs = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).alias("n_chars"),
        F.col(text_col).alias("_t"),
    )
    grams = (
        docs.where(F.col("n_chars") >= L)
        .select(
            "doc_id",
            "n_chars",
            F.explode(F.expr(f"sequence(1L, n_chars - {L} + 1)")).alias("pos"),
            "_t",
        )
        .select(
            "doc_id",
            "n_chars",
            "pos",
            F.expr(hash64_sql_spark(f"substring(_t, cast(pos as int), {L})")).alias(
                "gh"
            ),
        )
    )
    if anchor_stride > 1:
        # Content-defined sampling BEFORE any shuffle: gh is a pure
        # function of the window's characters, so this filter keeps the
        # same windows in every copy of a passage.
        grams = grams.where(F.pmod(F.col("gh"), F.lit(anchor_stride)) == 0)
    dupg = (
        grams.select("doc_id", "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .where(F.col("ndocs") >= 2)
        .select("gh")
    )
    hits = grams.join(dupg, "gh", "left_semi").select("doc_id", "n_chars", "pos")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = hits.withColumn(
        "prev_max", F.max(F.col("pos") + L - 1).over(w_prev)
    ).withColumn(
        "new_island",
        F.when(
            F.col("prev_max").isNull() | (F.col("pos") > F.col("prev_max") + 1),
            1,
        ).otherwise(0),
    )
    islands = marked.withColumn("island_id", F.sum("new_island").over(w_run))
    return islands.groupBy("doc_id", "island_id").agg(
        F.min("n_chars").alias("n_chars"),
        F.min("pos").cast("bigint").alias("s"),
        (F.max("pos") + L - 1).cast("bigint").alias("e"),
    ).select("doc_id", "n_chars", "s", "e")


def substring_remove(
    df: DataFrame, text_col: str, id_col: str, anchor_len: int = 40
) -> DataFrame:
    """APPLY the remove-duplicate-substring policy: every maximal
    cross-document duplicated span (:func:`substring_dup_islands`) is cut
    out of its document and the remaining pieces are concatenated in
    order -- the actual corpus-cleaning transform, not just the census.

    The reassembly is one ``aggregate`` fold over each doc's sorted
    island array (accumulator = (next-copy position, built string)):
    islands are disjoint with >= 1-char gaps by construction, so every
    slice length is non-negative and the fold is a single JVM expression
    -- no Python, no explode of the text.  Docs with no duplicated span
    pass through verbatim.  Emits (doc_id, kept_chars, kept_hash) --
    the md5 pins the exact cleaned text.
    """
    spans = substring_dup_islands(df, text_col, id_col, anchor_len)
    isl = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("islands")
    )
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.length(text_col).cast("bigint").alias("n_chars"),
    )
    kept = F.expr(
        "case when islands is null then _t else"
        " aggregate(islands,"
        "   struct(cast(1 as bigint) as pos, cast('' as string) as acc),"
        "   (st, i) -> struct(i.e + cast(1 as bigint),"
        "     concat(st.acc,"
        "       substring(_t, cast(st.pos as int), cast(i.s - st.pos as int)))),"
        "   st -> concat(st.acc,"
        "     substring(_t, cast(st.pos as int),"
        "       cast(n_chars - st.pos + 1 as int)))) end"
    )
    return (
        docs.join(isl, "doc_id", "left")
        .select("doc_id", kept.alias("_kept"))
        .select(
            "doc_id",
            F.length("_kept").cast("bigint").alias("kept_chars"),
            F.md5("_kept").alias("kept_hash"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 4,
    threshold: float = 0.6,
    df_cap: int = 50,
) -> DataFrame:
    """Directional shingle-CONTAINMENT near-dup pairs.

    Containment C(src -> dst) = |S_src ∩ S_dst| / |S_src| detects
    asymmetric duplication -- a short document quoted wholesale inside a
    long one -- which symmetric Jaccard structurally misses (the union in
    its denominator is dominated by the long side).  Output contract
    mirrors :func:`ngram_jaccard_pairs`'s DF-cap scope: ordered pairs
    (src != dst) sharing >= 1 shingle in <= ``df_cap`` docs, with
    C >= ``threshold`` computed EXACTLY over the full shingle sets.

    Physical shape (reworked after the round-6 5M probe OOMed the string
    form): every stage runs on the 60-bit PORTABLE hash of each shingle,
    never the string -- the shingle table is hashed right after the
    explode (codegen'd, not a lambda), per-doc sizes ride along via ONE
    window over doc_id (no groupBy+join-back for AQE to broadcast), the
    DF-capped candidate index and the verify all shuffle int64 triples,
    and intersections come from a posting-list join restricted to
    candidate pairs (no array payloads shuffled, no broadcast of the
    many-million-row candidate table).  A hash collision is identical in
    both engines (same md5 arithmetic in the oracle), so cross-engine
    parity is exact; candidates are generated once undirected and the
    persisted inter frame fans out to both directions.  The division is
    a single double op on identical int64 operands in both engines.

    Measured scale (results/scale_probe.txt, round 6): 29.2 s at 500k
    docs -> 392.5 s at 5M; output pairs grow exactly 10x with the
    corpus, so time-per-emitted-pair grows only 1.34x per 10x -- the
    verify join is ~linear in output.  Provisioning floor: the
    posting-list HashAggregate wants ~0.5 GB/core of execution memory
    (at 0.25 GB/core it spills to ~2x wall and can OOM); ordinary
    executor sizing at 100 TB."""
    from ..functions.hashing import hash64_sql_spark

    wdoc = Window.partitionBy("doc_id")
    sh = track_persist(
        _spread(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.expr(shingles_spark(tokens_spark(text_col), n))
            ).alias("s"),
        )
        .select("doc_id", F.expr(hash64_sql_spark("s")).alias("sh"))
        .withColumn("n_sh", F.count(F.lit(1)).over(wdoc))
    )
    hot = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_cap)
        .select("sh")
    )
    idx = sh.select("doc_id", "sh").join(F.broadcast(hot), "sh", "left_anti")
    a = idx.alias("a")
    b = idx.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    left = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sha"),
        F.col("n_sh").alias("na"),
    )
    right = sh.select(
        F.col("doc_id").alias("doc_b2"),
        F.col("sh").alias("shb"),
        F.col("n_sh").alias("nb"),
    )
    # PERSIST before the two-direction fan-out: fwd and bwd both consume
    # the verified frame, and an unpersisted plan evaluates the whole
    # verify chain twice concurrently (measured: heap OOM at the 500k
    # probe tier before the persist existed; the cached frame is |pairs|
    # rows of five numerics, the natural materialization point).
    verified = track_persist(
        cand.join(left, "doc_a")
        .join(
            right,
            (F.col("doc_b") == F.col("doc_b2")) & (F.col("sha") == F.col("shb")),
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    fwd = verified.select(
        F.col("doc_a").alias("doc_src"),
        F.col("doc_b").alias("doc_dst"),
        (F.col("inter").cast("double") / F.col("na")).alias("containment"),
    )
    bwd = verified.select(
        F.col("doc_b").alias("doc_src"),
        F.col("doc_a").alias("doc_dst"),
        (F.col("inter").cast("double") / F.col("nb")).alias("containment"),
    )
    return fwd.unionAll(bwd).where(F.col("containment") >= threshold)


def repeated_segment_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg_tokens: int = 12,
) -> DataFrame:
    """C4/RefinedWeb-style repeated-LINE removal over deterministic
    ``seg_tokens``-token segments: any segment that also appears in
    ANOTHER document is cut; each document's cleaned text is reassembled
    from its kept segments in order and md5-pinned.

    Cross-document repetition is detected with TWO window counts over the
    SAME shuffle (total per segment vs within-doc per segment: duplicated
    across docs iff total > in-doc) -- no groupBy+join-back, so no AQE
    broadcast-conversion risk on the segment strings at 100 TB, and no
    countDistinct (unsupported over windows)."""
    from pyspark.sql import Window

    st = seg_tokens
    segs = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split({text_col}, ' ')) "
                f"/ {st}.0) as int) - 1), "
                f"i -> array_join(slice(split({text_col}, ' '), "
                f"i*{st}+1, {st}), ' '))"
            )
        ).alias("idx", "seg"),
    )
    w_total = Window.partitionBy("seg")
    w_doc = Window.partitionBy("seg", "doc_id")
    marked = segs.select(
        "doc_id",
        "idx",
        "seg",
        F.count(F.lit(1)).over(w_total).alias("n_total"),
        F.count(F.lit(1)).over(w_doc).alias("n_in_doc"),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segs"),
        F.expr("count_if(n_total > n_in_doc)").cast("bigint").alias(
            "n_removed"
        ),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("n_total") <= F.col("n_in_doc"),
                                F.struct("idx", "seg"),
                            )
                        )
                    ),
                    lambda x: x.getField("seg"),
                ),
                " ",
            )
        ).alias("clean_md5"),
    )
