"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design rules for 100 TB:

* never build the full O(n^2) pair matrix — candidates come from an
  equality join on a *bucket key* (hash, LSH band, SimHash band), which
  Spark executes as a shuffled hash join on that key;
* all hashes are engine-portable integer arithmetic over ``md5`` hex
  (``conv(substr(md5(x),1,8),16,10)``), so a DuckDB oracle can replay them
  bit-for-bit — no reliance on engine-private hash functions;
* thresholds are rational (``den * inter >= num * union``) — integer
  comparisons, immune to float-boundary disagreements between engines;
* everything is built-in-function expressions (codegen'd); no Python UDFs.
"""
from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import scoped_persist
from .text import tokens_col

# MinHash parameters — shared verbatim with the SQL oracle generator.
MINHASH_PRIME = 4294967291          # largest 32-bit prime
MINHASH_COEFFS: List[Tuple[int, int]] = [
    (787 + 62 * j, 1000003 + 104729 * j) for j in range(8)
]
N_BANDS = 4                          # 8 hashes -> 4 bands of 2 rows
SIMHASH_BITS = 16


def token_hash(tok: Column) -> Column:
    """Portable 32-bit token hash: first 8 hex chars of md5 as an integer.
    ``conv`` returns a decimal string; cast back to long."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def shingles_col(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a text column (JVM-side array ops)."""
    toks = tokens_col(text)
    # NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not [] —
    # guard short texts explicitly.
    idx = F.when(F.size(toks) >= n,
                 F.sequence(F.lit(1), F.size(toks) - (n - 1))) \
        .otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k) for k in range(n)]))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact dedup: hash-groupBy on the content fingerprint.  Output one row
    per duplicate group: fingerprint, group size, canonical (min) id."""
    return (df.select(F.md5(F.col(text_col)).alias("fingerprint"), id_col)
            .groupBy("fingerprint")
            .agg(F.count("*").alias("n_dups"),
                 F.min(id_col).alias("keep_id"))
            .filter(F.col("n_dups") > 1))


def _fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition ahead of a CPU-bound stage, but only when the
    upstream parallelism is below the cluster's (e.g. one small parquet
    file -> one scan partition -> the hashing runs on a single core).  On a
    real multi-file 100 TB input the scan already yields thousands of
    splits and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _distinct_shingle_table(df: DataFrame, id_col: str, text_col: str,
                            n: int) -> DataFrame:
    # materialize the token array behind a projection BEFORE indexing into
    # it: element_at over the raw split(...) expression re-evaluates the
    # tokenization per shingle element (O(tokens^2) per document)
    toks = _fan_out(df).select(F.col(id_col).alias("id"),
                               tokens_col(F.col(text_col)).alias("tk"))
    tk = F.col("tk")
    idx = F.when(F.size(tk) >= n,
                 F.sequence(F.lit(1), F.size(tk) - (n - 1))) \
        .otherwise(F.array().cast("array<int>"))
    sh = F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.element_at(tk, i + k) for k in range(n)]))
    return toks.select("id", F.explode(F.array_distinct(sh)).alias("sh"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold_num: int = 4, threshold_den: int = 5
                        ) -> DataFrame:
    """All pairs with shingle-set Jaccard >= num/den.

    intersection via a self-join on the shingle (a shuffled hash join on a
    string key — skew-prone on very common shingles; AQE skew-join splits
    those), union by inclusion-exclusion, threshold as integer cross-
    multiplication.  Output: (id_a, id_b, inter, union_sz).
    """
    # the shingle table feeds both sides of the self-join plus the size
    # aggregate — persist it once instead of recomputing the explode 3x
    sh = scoped_persist(_distinct_shingle_table(df, id_col, text_col, n))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (sh.alias("a")
             .join(sh.alias("b"),
                   (F.col("a.sh") == F.col("b.sh")) &
                   (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
             .agg(F.count("*").alias("inter")))
    out = (inter
           .join(sizes.withColumnRenamed("id", "id_a")
                 .withColumnRenamed("n_sh", "n_a"), "id_a")
           .join(sizes.withColumnRenamed("id", "id_b")
                 .withColumnRenamed("n_sh", "n_b"), "id_b")
           .withColumn("union_sz",
                       F.col("n_a") + F.col("n_b") - F.col("inter"))
           .filter(F.col("inter") * threshold_den
                   >= F.col("union_sz") * threshold_num)
           .select("id_a", "id_b", "inter", "union_sz"))
    return out


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3) -> DataFrame:
    """8-hash MinHash signature per document over word-3-gram shingles.

    ``min((a*h32 + b) mod P)`` per hash function, h32 the portable md5-based
    shingle hash.  All arithmetic stays in int64 (a < 2**30 keeps the
    product < 2**63).

    Formulation: explode shingles -> ONE hash aggregation computing all 8
    mins.  md5 runs exactly once per shingle and the map-side partial min
    reduces the shuffle to 8 longs per (doc, input-partition) — at 100 TB
    this shuffle is ~0.01% of the input.  A fully narrow per-row
    array-expression variant (transform + array_min, zero shuffles) was
    measured 6x SLOWER: each of the 8 signature projections re-evaluates
    the shingle+md5 subtree because Catalyst does not CSE across
    higher-order-function lambdas.
    """
    sh = _distinct_shingle_table(df, id_col, text_col, n)
    h = token_hash(F.col("sh"))
    aggs = [F.min((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME))
            .alias(f"mh{j}")
            for j, (a, b) in enumerate(MINHASH_COEFFS)]
    return sh.groupBy(F.col("id")).agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3) -> DataFrame:
    """LSH candidate pairs: band the signature (4 bands x 2 rows), join on
    (band index, band value).  Only bucket-mates meet — never all-pairs.
    Output: distinct (id_a, id_b)."""
    # both sides of the bucket self-join would otherwise recompute the
    # full shingle+hash+min-agg subtree; the signature table is tiny
    # (1 row/doc) — persist it
    sig = scoped_persist(minhash_signatures(df, id_col, text_col, n))
    bands = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(bi).alias("band"),
                     F.concat_ws("_", f"mh{2 * bi}", f"mh{2 * bi + 1}")
                     .alias("bucket"))
            for bi in range(N_BANDS)])).alias("bb")) \
        .select("id", "bb.band", "bb.bucket")
    pairs = (bands.alias("a")
             .join(bands.alias("b"),
                   (F.col("a.band") == F.col("b.band")) &
                   (F.col("a.bucket") == F.col("b.bucket")) &
                   (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"))
             .distinct())
    return pairs


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """16-bit SimHash over the distinct-token set.

    bit b of the fingerprint is 1 iff sum over tokens of (+1 if bit b of
    the token hash else -1) is positive — expressed as 16 conditional sums
    in one hash aggregation (no Python, no explode-per-bit).
    """
    # no _fan_out here: one md5 per distinct token is cheap enough that a
    # full-text shuffle costs more than the extra cores buy (measured)
    tok = (df.select(F.col(id_col).alias("id"),
                     F.explode(F.array_distinct(
                         tokens_col(F.col(text_col)))).alias("tok")))
    h = token_hash(F.col("tok"))
    bit_sums = [
        F.sum(F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"s{b}")
        for b in range(SIMHASH_BITS)]
    agg = tok.groupBy("id").agg(*bit_sums)
    fp = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select("id", fp.cast("long").alias("simhash"))


def simhash_neardup_pairs(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, candidate-limited by
    band equality (two 8-bit halves: hamming<=3 pairs share a half only if
    distance concentrates — classic SimHash banding; exact filter after)."""
    sh = scoped_persist(simhash(df, id_col, text_col))
    halves = sh.select(
        "id", "simhash",
        F.explode(F.array(
            F.struct(F.lit(0).alias("band"),
                     (F.col("simhash") % 256).alias("half")),
            F.struct(F.lit(1).alias("band"),
                     (F.col("simhash") / 256).cast("long").alias("half")),
        )).alias("bb")).select("id", "simhash", "bb.band", "bb.half")
    pairs = (halves.alias("a")
             .join(halves.alias("b"),
                   (F.col("a.band") == F.col("b.band")) &
                   (F.col("a.half") == F.col("b.half")) &
                   (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"),
                     F.col("a.simhash").alias("sh_a"),
                     F.col("b.simhash").alias("sh_b"))
             .distinct()
             .withColumn("hamming", F.bit_count(
                 F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
             .filter(F.col("hamming") <= max_hamming)
             .select("id_a", "id_b", "hamming"))
    return pairs


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over an undirected candidate-pair edge list
    ``(id_a, id_b)`` by min-label propagation: every node repeatedly takes
    the minimum label among itself and its neighbours until fixpoint.
    Output: ``(id, cluster_id)`` for every id appearing in ``pairs``,
    ``cluster_id`` = the component's minimum id.

    The same min-propagation idea as the tile CCL kernel
    (`kernels/relabel.py`), lifted to a distributed edge list.  Each
    iteration is one shuffle-join (edges x labels, both partitioned by
    id) + one partial-agg'd groupBy min; iterations = component diameter
    (near-dup clusters are shallow, so typically 2-4).  The label table
    is localCheckpoint'd per iteration to truncate lineage — on a real
    cluster, point ``spark.sparkContext.setCheckpointDir`` at durable
    storage and swap in ``checkpoint()`` for executor-loss safety.
    Convergence is detected by the exact (decimal, overflow-free) sum of
    labels, which strictly decreases while any label changes — one
    cheap aggregate action per iteration instead of a change-count join.

    The checkpoints are LAZY (``eager=False``, round 16): an eager
    checkpoint runs its own materialization job and the convergence
    aggregate then runs a SECOND job over the stored blocks, so every
    iteration paid two job round-trips where one suffices — the
    aggregate action itself materializes the checkpoint blocks as a
    side effect (the same fusion ``functions/ids.py::
    exclusive_prefix_sum`` relies on), and the next iteration's join
    reads those blocks exactly as before.  Guide §1.2: the
    per-iteration job overhead is part of the algorithm's step cost;
    halving the actions removes one scheduling round-trip per
    iteration without touching the label math.
    """
    # Persist the PAIR LIST, not the symmetrized union: the two union
    # arms would otherwise each embed the full upstream candidate
    # pipeline and the first materialization would execute it TWICE
    # (measured 217 s vs 99 s on the 10x PPJoin probe).  The union on
    # top of the cached core is narrow, so re-deriving it per
    # iteration costs nothing.
    core = pairs.select("id_a", "id_b").persist()
    edges = (core.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
             .unionByName(
                 core.select(F.col("id_b").alias("s"),
                             F.col("id_a").alias("d"))))
    # node set from ONE read of core, not the two-armed edges union
    # (round 16): the init job is the one that MATERIALIZES the
    # persisted core, and two union arms in a single stage race to
    # compute the same not-yet-cached partitions concurrently — each
    # task pays the upstream candidate pipeline again.  explode keeps
    # the read single; the set of ids is identical (union of both
    # endpoint columns).  The iteration joins still use the union
    # form, by which point core is cached and re-reading it is free.
    labels = (core.select(F.explode(F.array("id_a", "id_b")).alias("id"))
              .distinct()
              .select("id", F.col("id").alias("lbl"))
              .localCheckpoint(eager=False))
    prev = labels.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).first()[0]
    for _ in range(max_iter):
        cand = (edges.join(labels.withColumnRenamed("id", "sid"),
                           F.col("s") == F.col("sid"))
                .groupBy(F.col("d").alias("id"))
                .agg(F.min("lbl").alias("nbr_lbl")))
        labels = (labels.join(cand, "id", "left")
                  .select("id", F.least(
                      F.col("lbl"),
                      F.coalesce("nbr_lbl", F.col("lbl"))).alias("lbl"))
                  .localCheckpoint(eager=False))
        cur = labels.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)"))).first()[0]
        if cur == prev:
            break
        prev = cur
    core.unpersist()
    return labels.withColumnRenamed("lbl", "cluster_id")


def canonical_per_cluster(df: DataFrame, clusters: DataFrame,
                          id_col: str = "doc_id",
                          score_col: str = "n_chars") -> DataFrame:
    """Per-cluster retention policy: keep the highest-``score_col`` member
    (ties -> lowest id).  Output: (cluster_id, n_docs, keep_id).

    One hash aggregation with ``max_by`` over a (score, -id) struct —
    partial-agg'd map-side, no per-cluster sort, single shuffle on
    cluster_id."""
    member = (df.select(F.col(id_col).alias("id"),
                        F.col(score_col).alias("score"))
              .join(clusters, "id"))
    return (member.groupBy("cluster_id")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.max_by("id", F.struct(F.col("score"),
                                         (-F.col("id")).alias("neg")))
                 .alias("keep_id")))


def segment_dedup(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", seg_len: int = 16,
                  out_text: bool = False) -> DataFrame:
    """Corpus-wide segment-level exact dedup (the Dolma/CCNet
    paragraph-dedup pattern, on fixed ``seg_len``-token segments since
    the driver corpus has no newlines): every duplicated segment is kept
    only at its first occurrence — (min doc id, min position) — and
    each document is reassembled from its surviving segments in order.

    Distribution shape: one narrow explode (doc -> segments), ONE
    shuffle on the segment string shared by the winner-aggregate and
    the probe join (co-partitioned), one shuffle back on the doc id for
    the ordered reassembly.  Per-segment state in the winner agg is a
    single (id, pos) struct, so a segment repeated millions of times
    (boilerplate at 100 TB) costs map-side partial-min, never a
    collect.  Docs whose every segment lost are dropped (fully
    boilerplate).  Output: id, n_segs, n_kept, md5 of the cleaned text —
    or, with ``out_text=True``, (id, clean_text) carrying the
    reassembled text itself, the residue a downstream near-dup pass
    (PPJoin, MinHash) should run on instead of the raw corpus.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    base = (df.select(F.col(id_col).alias("id"), toks.alias("tk"))
            .withColumn("n_segs",
                        F.ceil(F.size("tk") / seg_len).cast("bigint"))
            .filter(F.col("n_segs") > 0))

    def seg_at(i):
        return F.array_join(
            F.slice(F.col("tk"), i * seg_len + 1, seg_len), " ")

    segs = (base.select(
        "id", "n_segs",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.col("n_segs").cast("int") - 1),
            seg_at)).alias("seg_idx", "seg")))
    # winner key packed into ONE DECIMAL(38,0) — id * 10^9 + seg_idx —
    # instead of min(struct(id, seg_idx)) (round 16): a struct min
    # plans as SortAggregate (a full sort of the segment table before
    # EACH aggregation phase), while a decimal min is hash-aggregable
    # (HashAggregate, map-side partial combine preserved, zero sorts).
    # The packing is order-isomorphic to (id, seg_idx) lexicographic
    # order for ANY int64 id because 0 <= seg_idx < 10^9 (one document
    # with 10^9 16-token segments would need a >= 32 GiB text value,
    # past Spark's 2 GiB string cap — the bound is structural), and
    # 19-digit ids * 10^9 stay inside the 38-digit decimal range.
    pack = (F.col("id").cast("decimal(38,0)") * F.lit(1_000_000_000)
            + F.col("seg_idx"))
    winners = segs.groupBy("seg").agg(F.min(pack).alias("w"))
    kept = segs.join(winners, "seg").filter(pack == F.col("w"))
    ordered = F.array_join(
        F.transform(F.array_sort(F.collect_list(
            F.struct("seg_idx", "seg"))), lambda s: s["seg"]), " ")
    if out_text:
        return kept.groupBy("id").agg(ordered.alias("clean_text"))
    return (kept.groupBy("id")
            .agg(F.max("n_segs").alias("n_segs"),
                 F.count("*").cast("bigint").alias("n_kept"),
                 F.md5(ordered).alias("clean_fp")))


def tfidf_cosine_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_df: int = 100,
                       threshold_micro: int = 800000) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs via an inverted-index
    self-join (the DISCO / all-pairs-similarity pattern).

    Term weights are *integer* tf-idf — ``w = tf * (N div df)``, an
    integer-division rarity factor — so every dot product and squared
    norm is an exact int64 sum (order-independent, engine-portable);
    the only float ops are one sqrt and one divide over exactly-agreed
    integers, bit-identical on both engines.  The similarity is emitted
    as micro-units (``floor(cos * 1e6)``) to keep the output integer.

    Distribution shape: terms with ``df > max_df`` are dropped BEFORE
    the self-join (the classic stop-term prune — an unpruned common
    term alone would generate df^2 candidate rows); the remaining
    inverted index self-joins on the term (shuffled hash join, AQE
    splits skewed terms), partial products combine map-side per
    (a, b) pair, and norms join back on the id.  Never all-pairs.
    """
    # the corpus size rides as a 1-row broadcast aggregate (the BM25
    # corpus-stats device) — no driver-side count() at plan-build time
    n_row = F.broadcast(df.agg(F.count("*").alias("n_docs")))
    tf = (_fan_out(df)
          .select(F.col(id_col).alias("id"),
                  F.explode(tokens_col(F.col(text_col))).alias("term"))
          .groupBy("id", "term").agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # floor(N/df) == N div df exactly: correctly-rounded double division
    # can only cross an integer boundary when |N/df - m| < ulp(m), which
    # needs df >> 2^52/m — unreachable for corpus-scale N, df, so the
    # Spark floor and the oracle's integer `//` agree.
    w = (tf.join(dfreq.filter(F.col("df") <= max_df), "term")
         .crossJoin(n_row)
         .select("id", "term",
                 (F.col("tf") *
                  F.floor(F.col("n_docs") / F.col("df"))).alias("w")))
    w = scoped_persist(w)
    norms = w.groupBy("id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    dots = (w.alias("a")
            .join(w.alias("b"),
                  (F.col("a.term") == F.col("b.term")) &
                  (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"))
            .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot")))
    cos = F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb")))
    return (dots
            .join(norms.select(F.col("id").alias("id_a"),
                               F.col("n2").alias("na")), "id_a")
            .join(norms.select(F.col("id").alias("id_b"),
                               F.col("n2").alias("nb")), "id_b")
            .withColumn("sim_micro",
                        F.floor(cos * F.lit(1000000.0)).cast("long"))
            .filter(F.col("sim_micro") >= threshold_micro)
            .select("id_a", "id_b", "dot", "sim_micro"))


def incremental_new_docs(batch: DataFrame, seen: DataFrame,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         within_batch: bool = False) -> DataFrame:
    """Incremental-ingest dedup: keep only batch docs whose content
    fingerprint has never been seen in the existing corpus — a
    LEFT ANTI join on the hash.

    CAVEAT (round-3 ADVICE): by default this checks the batch only
    against the CORPUS — two rows inside the same batch with identical
    text both pass as 'new', and neither fingerprint is in ``seen``
    until the next snapshot refresh.  Pass ``within_batch=True`` to
    also keep only the min-id row per fingerprint inside the batch
    (one extra partial-agg'd groupBy on the fingerprint); leave it off
    when upstream micro-batches are already unique, or when composing
    with the streaming variant, whose per-key state dedups within and
    across batches anyway (streaming/events.py).

    At 100 TB the seen-side is a fingerprint-only projection (16 bytes
    + id per doc), so the anti-join shuffles fingerprints, not text;
    Spark's runtime bloom-filter join pushes a filter of the (smaller)
    batch side's fingerprints into the corpus scan when sizes warrant.
    Output: (id, fingerprint) of genuinely-new docs.
    """
    fp = F.md5(F.col(text_col))
    new = batch.select(F.col(id_col).alias("id"), fp.alias("fingerprint"))
    if within_batch:
        new = (new.groupBy("fingerprint")
               .agg(F.min("id").alias("id"))
               .select("id", "fingerprint"))
    old = seen.select(fp.alias("fingerprint"))
    return new.join(old, "fingerprint", "left_anti")


def prefix_filtered_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                                  text_col: str = "text", n: int = 3,
                                  threshold_num: int = 4,
                                  threshold_den: int = 5,
                                  max_shingles: int = 100_000) -> DataFrame:
    """Shingle-set Jaccard pairs >= num/den via PREFIX FILTERING (the
    AllPairs/PPJoin candidate-generation scheme, Bayardo et al. 2007 /
    Xiao et al. 2008) — the scale upgrade over ``ngram_jaccard_pairs``'s
    full inverted-index self-join: instead of joining on EVERY shared
    shingle, each document exposes only its ``|d| - ceil(t*|d|) + 1``
    RAREST shingles (its prefix under the global (df, shingle) order),
    and the prefix theorem guarantees any pair with J >= t still
    collides on at least one prefix shingle.  Boilerplate shingles
    shared by thousands of docs therefore never generate candidates —
    the df^2 blowup is filtered BEFORE the join instead of after.

    Every step is engine-replayable: the global order is
    (df ASC, shingle ASC) — total, no hash ties — the prefix length is
    integer ceiling arithmetic, and the final threshold is an integer
    cross-multiplication over exact intersection counts.  Output:
    (id_a, id_b, inter, union_sz), the ``ngram_jaccard_pairs``
    contract (a candidate-generation A/B with identical verify).

    VERIFY SHAPE (round 8): intersections are computed by joining each
    candidate pair against a per-id SORTED SHINGLE ARRAY table and
    taking ``size(array_intersect(...))`` JVM-side — one narrow
    expression per pair — instead of re-exploding every candidate into
    |d| (pair, shingle) rows and aggregating them back per pair.  The
    old explode-join-groupBy verify paid one exchange of ~sum(|d|)
    rows over all candidates plus a per-pair aggregation exchange; on
    the 10x replicated corpus (where duplication-clique semantics grow
    candidates ~1000x) that was the dominant stage — this formulation
    measured 13.6 s vs 39.6 s end-to-end, value-identical output.  The
    set size also rides the same window exchange as the prefix rank
    (count over the id partition), dropping the separate
    sizes-groupBy-and-join.

    Row-size tradeoff of the array verify (round-9 note): each
    surviving candidate-pair row carries BOTH documents' full shingle
    arrays through the two verify joins, so per-row shuffle size is
    O(|d_a| + |d_b|) where the old exploded verify's rows stayed flat
    (it paid in row COUNT instead, ~sum(|d|) rows per pair).  With
    bounded document length (this corpus; any chunked training corpus)
    the array verify wins outright; for unbounded documents the
    ``max_shingles`` guard (enforced in ``_ppjoin_verify``) fails the
    job with a clear per-document error instead of letting one
    pathological row blow the shuffle — shingle-sample or chunk such
    documents upstream, or fall back to the exploded verify for the
    oversized tail.
    """
    toks = scoped_persist(
        _distinct_shingle_table(df, id_col, text_col, n)
        .withColumnRenamed("sh", "tok"))
    # persist the prefix table too (round 16): it feeds BOTH sides of
    # the candidate self-join, and each side otherwise re-runs the
    # dfreq aggregation + broadcast join + per-id window from the
    # cached shingle table — when the planner picks a broadcast join
    # for either side, the rebuild runs as its own single-threaded
    # broadcast-build job (measured ~0.8 s per duplicate subtree at
    # sf0.1; the four such rebuild jobs were ~40 % of the
    # dedup_segment_then_prefix wall).  Guide §2.4: two consumers of
    # one keyed subtree should share one materialization.
    prefix = scoped_persist(
        _ppjoin_prefix_table(toks, threshold_num, threshold_den))
    cand = _ppjoin_candidates(prefix, threshold_num, threshold_den)
    return _ppjoin_verify(cand, toks, threshold_num, threshold_den,
                          max_shingles=max_shingles)


def _ppjoin_prefix_table(toks, threshold_num: int, threshold_den: int):
    """(id, tok, sz, rk) for each doc's prefix tokens under the global
    (df, tok) order; sz = |doc|, rk = the token's doc-internal position
    in the global order."""
    from pyspark.sql import Window
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    wo = Window.partitionBy("id").orderBy("df", "tok")
    rk = F.row_number().over(wo)
    # sz rides the SAME (partition, order) spec as rk with an explicit
    # whole-partition frame (round 16): a bare
    # ``count(*) over (partition by id)`` is a second window spec, and
    # Spark plans one Sort per spec — two full sorts of the shingle
    # table where one suffices (guide §2.4: operations keyed the same
    # way share one exchange/sort).  The frame override changes nothing
    # semantically (a partition's row count is order-independent).
    sz = F.count("*").over(wo.rowsBetween(Window.unboundedPreceding,
                                          Window.unboundedFollowing))
    # ceil(t*|d|) = (num*|d| + den - 1) // den, all integer
    plen = (F.col("sz") -
            F.floor((F.lit(threshold_num) * F.col("sz")
                     + (threshold_den - 1)) / threshold_den) + 1)
    return (toks.join(dfreq, "tok")
            .withColumn("sz", sz)
            .withColumn("rk", rk)
            .filter(F.col("rk") <= plen)
            .select("id", "tok", "sz", "rk"))


def _ppjoin_candidates(prefix, threshold_num: int, threshold_den: int,
                       positional: bool = True):
    """Distinct (id_a, id_b) candidate pairs from the prefix table.

    LENGTH FILTER (lossless, the AllPairs/PPJoin size bound):
    J(a,b) >= t  =>  inter >= t*union >= t*max(|a|,|b|), and
    inter <= min(|a|,|b|), so min*den >= max*num.  Applied INSIDE the
    candidate join it prunes shingle-colliding but size-incompatible
    pairs before the distinct and before the verify joins ever see
    them — at boilerplate shingle frequencies this is the difference
    between verify work ~ true-candidate count and ~ collision count.

    POSITIONAL FILTER (lossless, the "PP" of PPJoin, Xiao et al.
    2008 §3.2): a colliding token at doc-internal global-order
    positions (rk_a, rk_b) bounds the overlap reachable through this
    collision by 1 + min(|a| - rk_a, |b| - rk_b) — every OTHER common
    token of a truly-similar pair's FIRST collision sits strictly
    later in both orderings.  J >= t requires
    inter * (num + den) >= num * (|a| + |b|) (from inter >= t*union
    and union = |a|+|b|-inter), so collision rows whose positional
    bound cannot reach that minimum overlap are dropped inside the
    join.  Per-row the test is exact for the pair's first collision
    (conservative for later ones), so every qualifying pair still
    survives through its first collision row — candidates shrink,
    output is unchanged.  ``positional=False`` exists ONLY for the A/B
    rig; the operator always filters.
    """
    cond = ((F.col("a.tok") == F.col("b.tok")) &
            (F.col("a.id") < F.col("b.id")) &
            (F.least(F.col("a.sz"), F.col("b.sz")) * threshold_den
             >= F.greatest(F.col("a.sz"), F.col("b.sz")) * threshold_num))
    if positional:
        min_ov = (F.floor((F.lit(threshold_num)
                           * (F.col("a.sz") + F.col("b.sz"))
                           + (threshold_num + threshold_den - 1))
                          / (threshold_num + threshold_den)))
        cond = cond & (F.least(F.col("a.sz") - F.col("a.rk"),
                               F.col("b.sz") - F.col("b.rk")) + 1
                       >= min_ov)
    return (prefix.alias("a").join(prefix.alias("b"), cond)
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"))
            .distinct())


def _ppjoin_verify(cand, toks, threshold_num: int, threshold_den: int,
                   max_shingles: int = 100_000):
    """Exact (id_a, id_b, inter, union_sz) for candidates above the
    threshold, via per-id shingle arrays + size(array_intersect) — no
    sort_array: array_intersect is order-insensitive and the output
    columns are scalars, so sorting the collected arrays was dead work
    (round-8 ADVICE).

    ``max_shingles`` makes the documented row-size bound code, not
    prose (round-9 verdict).  The guard is folded into the ``sz``
    column itself — ``sz`` feeds ``union_sz`` in the output, so the
    optimizer cannot prune the check away as an unused projection.
    Firing semantics (round-10 review): for any document that joins a
    candidate pair the check is GUARANTEED to evaluate (its n_a/n_b
    reach the output); for oversized documents with zero candidates
    evaluation is plan-dependent (a plain hash join projects every
    byid row, a runtime-filtered scan may skip non-matching ids) — so
    the guard may fail a job for an oversized NON-candidate, never
    the reverse.  That is the safe direction: such a document's
    collect_list array is itself the memory hazard the cap exists to
    surface, whether or not it later joins."""
    # scoped-persisted (round 16): byid feeds both the id_a and id_b
    # joins below, and each otherwise re-runs the collect_list
    # aggregation — as a single-threaded broadcast-build job when the
    # planner broadcasts it (same rationale, and the same measured
    # duplicate-subtree cost, as the prefix-table persist in
    # prefix_filtered_jaccard_pairs).
    byid = toks.groupBy("id").agg(
        F.count("*").alias("sz"),
        F.collect_list("tok").alias("arr"))
    byid = byid.withColumn(
        "sz",
        F.when(F.col("sz") <= max_shingles, F.col("sz")).otherwise(
            F.raise_error(F.concat(
                F.lit("ppjoin array verify: document "),
                F.col("id").cast("string"),
                F.lit(" has "), F.col("sz").cast("string"),
                F.lit(f" distinct shingles (max_shingles={max_shingles});"
                      " shingle-sample or chunk it upstream, or use the"
                      " exploded verify (ngram_jaccard_pairs)")))))
    byid = scoped_persist(byid)
    return (cand
            .join(byid.select(F.col("id").alias("id_a"),
                              F.col("sz").alias("n_a"),
                              F.col("arr").alias("arr_a")), "id_a")
            .join(byid.select(F.col("id").alias("id_b"),
                              F.col("sz").alias("n_b"),
                              F.col("arr").alias("arr_b")), "id_b")
            .withColumn("inter",
                        F.size(F.array_intersect("arr_a", "arr_b"))
                        .cast("bigint"))
            .withColumn("union_sz",
                        F.col("n_a") + F.col("n_b") - F.col("inter"))
            .filter(F.col("inter") * threshold_den
                    >= F.col("union_sz") * threshold_num)
            .select("id_a", "id_b", "inter", "union_sz"))
