"""Training-data-pipeline queries (dedup / similarity / text / multimodal /
sessionization) with DuckDB oracles.

The oracle SQL for MinHash and SimHash is *generated* from the same
constants the Spark operators use (``operators.dedup``), so both engines
compute the identical integer hash pipeline.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as TX
from ..operators.asof import asof_join
from ..operators.multimodal import documents_as_media, media_metadata
from ..streaming.events import sessionize_batch, windowed_event_counts
from .relational import REGISTRY, finite_or_null, register, t

# Portable token hash, DuckDB side (Spark side: operators.dedup.token_hash)
_DUCK_H32 = "CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"

# Query-vector convention for every ANN arm: the embedding of the
# LOWEST vec_id (the same convention as the oracles' _DUCK_QVEC).
# On the testdata the lowest id is 0, so results are unchanged; on a
# corpus without vec_id 0 the old
# ``vec_id = 0`` filter crashed with a bare TypeError (round-8 ADVICE).
_DUCK_QVEC = ("(SELECT min(vec_id) FROM embeddings"
              " WHERE len(list_filter(embedding, x -> x IS NULL OR"
              " NOT isfinite(CAST(x AS DOUBLE)))) = 0)")

# Well-formed-vector ingestion guard (Spark side:
# operators.similarity.as_vec): an embedding with any NULL/NaN/±Inf
# component is ill-formed and becomes NULL here, so every downstream
# path — cosine, centroids, moments, PQ codes — reuses the verified
# NULL-embedding behavior instead of hitting the engines' divergent
# non-finite ordering/cast semantics (DuckDB compares NaN greater than
# everything and errors on CAST(NaN AS BIGINT); Spark ANSI-errors the
# cast too but ranks differently).  A NULL embedding stays NULL: the
# len() of a NULL filter result is NULL and the CASE falls through.
_DUCK_VEC = ("CASE WHEN len(list_filter(embedding, x -> x IS NULL OR"
             " NOT isfinite(CAST(x AS DOUBLE)))) = 0"
             " THEN list_transform(embedding, x -> CAST(x AS DOUBLE))"
             " END")

# NULL-total cosine template: a zero-norm (or NULL) side yields NULL —
# matching operators.similarity.cosine's try_divide — NEVER NaN.
# DuckDB sorts AND compares NaN as GREATER than everything, so an
# unguarded 0/0 would rank a dead vector FIRST (and pass >= threshold
# filters) while Spark's NULL ranks last and fails them.
_DUCK_COS = ("CASE WHEN list_dot_product({a}, {a}) > 0"
             " AND list_dot_product({b}, {b}) > 0"
             " THEN list_dot_product({a}, {b})"
             " / (sqrt(list_dot_product({a}, {a}))"
             " * sqrt(list_dot_product({b}, {b}))) END")


def _query_vec(emb) -> list:
    """Query vector as a python float list, or a clear error if the
    embeddings table is empty (``.first()`` returns None there).

    NULL ids are excluded first: Spark's ascending sort places NULLs
    FIRST while the oracle's ``min(vec_id)`` ignores them — without the
    filter a null-id corpus would silently diverge instead of agreeing
    on the lowest non-null id (round-9 ADVICE).  NULL embeddings are
    excluded too (matching ``_DUCK_QVEC``): if the lowest-id row is a
    failed embedding job, the convention is the lowest id WITH a
    vector, not a crash here and a NULL query vector in the oracle.
    "With a vector" means a WELL-FORMED one — ``as_vec`` NULLs out
    NaN/Inf-component vectors, so a poisoned lowest-id row cannot
    become a query vector that NULLs every score."""
    row = (emb.filter(F.col("vec_id").isNotNull()
                      & S.as_vec("embedding").isNotNull())
           .orderBy("vec_id").select("embedding").first())
    if row is None:
        raise ValueError(
            "no row with non-null vec_id AND embedding in the embeddings"
            " table — no ANN query vector available")
    return [float(x) for x in row[0]]


def _cleanup_at_exit(path: str) -> None:
    """Best-effort removal of an operator temp dir at interpreter exit
    (bench/gate processes create one per invocation; without this the
    spark_ivfpq_* dirs accumulate for the life of the box)."""
    import atexit
    import shutil
    atexit.register(shutil.rmtree, path, ignore_errors=True)

_DUCK_SHINGLES = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
), sh0 AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
                        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS shs
  FROM toks
), sh AS (
  SELECT DISTINCT doc_id AS id, unnest(shs) AS sh FROM sh0
)
"""


# ------------------------------------------------------------ exact dedup
@register("dedup_exact", """
SELECT md5(text) AS fingerprint,
       CAST(count(*) AS BIGINT) AS n_dups,
       min(doc_id) AS keep_id
FROM documents GROUP BY 1 HAVING count(*) > 1
""")
def dedup_exact(spark, sf_dir):
    return D.exact_duplicates(t(spark, sf_dir, "documents"))


# ---------------------------------------------------- n-gram Jaccard dedup
@register("dedup_ngram_jaccard", _DUCK_SHINGLES + """
, cnt AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)
SELECT id_a, id_b, inter,
       CAST(ca.n + cb.n - inter AS BIGINT) AS union_sz
FROM inter JOIN cnt ca ON ca.id = id_a JOIN cnt cb ON cb.id = id_b
WHERE inter * 5 >= (ca.n + cb.n - inter) * 4
""")
def dedup_ngram_jaccard(spark, sf_dir):
    """3-gram shingle Jaccard >= 4/5, integer-exact threshold."""
    return D.ngram_jaccard_pairs(t(spark, sf_dir, "documents"),
                                 threshold_num=4, threshold_den=5)


# -------------------------------------------------------- MinHash + LSH
def _minhash_sig_sql() -> str:
    h = _DUCK_H32.format(x="sh")
    mins = ", ".join(
        f"min(({a} * {h} + {b}) % {D.MINHASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(D.MINHASH_COEFFS))
    return _DUCK_SHINGLES + f", sig AS (SELECT id, {mins} FROM sh GROUP BY id)"


def _minhash_pairs_cte() -> str:
    """All the MinHash-LSH plumbing as CTEs ending with ``pairs``."""
    bands = " UNION ALL ".join(
        f"SELECT id, {bi} AS band, CAST(mh{2*bi} AS VARCHAR) || '_' || "
        f"CAST(mh{2*bi+1} AS VARCHAR) AS bucket FROM sig"
        for bi in range(D.N_BANDS))
    return _minhash_sig_sql() + f""",
bands AS ({bands}),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)"""


def _minhash_pairs_sql() -> str:
    return _minhash_pairs_cte() + "\nSELECT id_a, id_b FROM pairs"


@register("dedup_minhash_signatures", _minhash_sig_sql() +
          "\nSELECT * FROM sig")
def dedup_minhash_signatures(spark, sf_dir):
    return D.minhash_signatures(t(spark, sf_dir, "documents"))


@register("dedup_minhash_lsh", _minhash_pairs_sql())
def dedup_minhash_lsh(spark, sf_dir):
    return D.minhash_lsh_pairs(t(spark, sf_dir, "documents"))


# -------------------------------------------------------------- SimHash
def _simhash_sql() -> str:
    h = _DUCK_H32.format(x="tok")
    bit_sums = ", ".join(
        f"sum(CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(D.SIMHASH_BITS))
    combine = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(D.SIMHASH_BITS))
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id AS id, unnest(
    list_filter(string_split(text, ' '), x -> x <> '')) AS tok
  FROM documents),
agg AS (SELECT id, {bit_sums} FROM tok GROUP BY id)
SELECT id, CAST({combine} AS BIGINT) AS simhash FROM agg
"""


@register("dedup_simhash", _simhash_sql())
def dedup_simhash(spark, sf_dir):
    return D.simhash(t(spark, sf_dir, "documents"))


# -------------------------------------------------- similarity search
@register("ann_cosine_topk", f"""
WITH v AS (SELECT vec_id,
                  {_DUCK_VEC} AS ve
           FROM embeddings),
q AS (SELECT ve AS qv FROM v WHERE vec_id = {_DUCK_QVEC}),
s AS (SELECT vec_id, {_DUCK_COS.format(a="ve", b="qv")} AS cos
      FROM v, q)
SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank,
       vec_id
FROM s ORDER BY rank LIMIT 10
""")
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 around the lowest-id vector
    (rank+id contract)."""
    emb = t(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, _query_vec(emb), k=10)


def _lsh_topk_sql() -> str:
    planes = S.default_lsh_planes()
    bits = " || ".join(
        "(CASE WHEN list_dot_product(ve, ["
        + ", ".join(repr(x) for x in p)
        + "]) >= 0 THEN '1' ELSE '0' END)" for p in planes)
    return f"""
WITH v AS (SELECT vec_id,
                  {_DUCK_VEC} AS ve
           FROM embeddings),
b AS (SELECT vec_id, {bits} AS bucket FROM v),
qb AS (SELECT bucket AS q_bucket FROM b WHERE vec_id = {_DUCK_QVEC}),
q AS (SELECT ve AS qv FROM v WHERE vec_id = {_DUCK_QVEC}),
cand AS (SELECT v.vec_id, v.ve
         FROM v JOIN b ON v.vec_id = b.vec_id, qb
         WHERE b.bucket = qb.q_bucket),
s AS (SELECT vec_id, {_DUCK_COS.format(a="ve", b="qv")} AS cos
      FROM cand, q)
SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank,
       vec_id
FROM s ORDER BY rank LIMIT 10
"""


@register("ann_lsh_topk", _lsh_topk_sql())
def ann_lsh_topk(spark, sf_dir):
    """ANN scale path: score only the query's hyperplane-LSH bucket.
    The oracle replays the identical bucketing (same plane constants),
    so the approximation is deterministic and hash-checkable."""
    emb = t(spark, sf_dir, "embeddings")
    return S.lsh_cosine_topk(emb, _query_vec(emb),
                             S.default_lsh_planes(), k=10)


def _ivf_neardup_sql(target_cell: int = 256, n_assign: int = 2) -> str:
    cos = _DUCK_COS  # NULL-total (zero-norm -> NULL, see top)
    # Scale-true centroid count, replayed from the corpus size exactly
    # like the Spark side: max(8, ceil(n / target_cell)).
    return f"""
WITH v AS (SELECT vec_id AS id,
                  {_DUCK_VEC} AS ve
           FROM embeddings),
ncc AS (SELECT greatest(CAST(ceil(count(*) / {target_cell}.0) AS INT), 8)
               AS nc FROM v),
c AS (SELECT cid, cv FROM (SELECT id AS cid, ve AS cv, row_number() OVER (ORDER BY id) AS rn FROM v) WHERE rn <= (SELECT nc FROM ncc)),
pc AS (SELECT v.id, c.cid, {cos.format(a="v.ve", b="c.cv")} AS cos
       FROM v, c),
cell AS (SELECT id, cid AS cell FROM (
  SELECT id, cid, row_number() OVER (PARTITION BY id
                                     ORDER BY cos DESC, cid) AS rn
  FROM pc) WHERE rn <= {n_assign}),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM cell a JOIN cell b
           ON a.cell = b.cell AND a.id < b.id),
n AS (SELECT id, ve, sqrt(list_dot_product(ve, ve)) AS nrm FROM v)
SELECT cand.id_a, cand.id_b
FROM cand JOIN n a ON a.id = cand.id_a JOIN n b ON b.id = cand.id_b
WHERE a.nrm > 0 AND b.nrm > 0
  AND list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) * 100 >= 45
"""


@register("embedding_neardup_pairs", _ivf_neardup_sql())
def embedding_neardup_pairs(spark, sf_dir):
    """Bucketed (IVF multi-assignment) near-dup pairs — the scale path;
    the brute-force all-pairs join survives only as the local test
    baseline (tests/test_oracle_parity.py recall check).  The centroid
    count is scale-true (``max(8, ceil(n/256))``, one cheap count on
    the Spark side, an ``ncc`` CTE in the oracle) so cell occupancy —
    and with it candidate-pair volume — stays bounded as the corpus
    grows; at the gate/bench SFs (≤2,000 vectors) the formula yields
    the same 8 centroids as before, so results are unchanged there."""
    return S.ivf_neardup_pairs(t(spark, sf_dir, "embeddings"),
                               threshold_num=45, threshold_den=100)


# ------------------------------------------------------- text analysis
@register("text_token_stats", """
SELECT doc_id,
       CAST(len(tk) AS INT) AS n_tokens,
       CAST(len(list_distinct(tk)) AS INT) AS n_distinct_tokens,
       CASE WHEN len(tk) > 0 THEN
         CAST(round(CAST(CAST(list_sum(list_transform(tk,
                x -> length(x))) AS DOUBLE) / len(tk)
              AS DECIMAL(27,9)), 6) AS DOUBLE) END AS avg_token_len
FROM (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents)
""")
def text_token_stats(spark, sf_dir):
    return TX.with_token_stats(t(spark, sf_dir, "documents"))


def _langid_sql() -> str:
    score = {lang: "+".join(
        f"(CASE WHEN tok = '{m}' THEN 1 ELSE 0 END)" for m in ms)
        for lang, ms in sorted(TX.LANG_MARKERS.items())}
    sums = ", ".join(f"sum({expr}) AS s_{lang}"
                     for lang, expr in score.items())
    langs = sorted(TX.LANG_MARKERS)
    best = f"greatest({', '.join('s_' + l for l in langs)})"
    pred = "CASE " + " ".join(
        f"WHEN s_{l} = {best} THEN '{l}'" for l in langs) + " END"
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
sc AS (SELECT doc_id, {sums} FROM tok GROUP BY doc_id)
SELECT d.doc_id, d.lang, {pred} AS pred_lang,
       CAST({best} AS INT) AS best_score
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
"""
# LEFT JOIN (not inner): unnest(string_split(NULL)) yields ZERO rows,
# so an inner join would silently DROP a NULL-text document while the
# Spark side keeps it with NULL pred/score (size(filter(NULL)) is
# NULL) — a curation pipeline should see the unidentifiable doc, not
# lose it.  Found by tools/null_parity_sweep.py.


@register("text_langid", _langid_sql())
def text_langid(spark, sf_dir):
    return TX.with_lang_id(t(spark, sf_dir, "documents"))


@register("text_quality", """
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars,
       CAST(len(tk) AS INT) AS n_tokens,
       CASE WHEN len(tk) > 0 THEN
         CAST(round(CAST(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
              AS DECIMAL(27,9)), 6) AS DOUBLE)
       END AS type_token_ratio,
       CASE WHEN len(tk) > 0 THEN
         CAST(round(CAST(CAST(len(list_filter(tk,
                x -> list_contains({markers}, x))) AS DOUBLE) / len(tk)
              AS DECIMAL(27,9)), 6) AS DOUBLE) END AS marker_ratio
FROM (SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents)
""".format(markers="[" + ", ".join(
    f"'{m}'" for m in sorted({m for ms in TX.LANG_MARKERS.values()
                              for m in ms})) + "]"))
def text_quality(spark, sf_dir):
    return TX.with_quality_score(t(spark, sf_dir, "documents"))


@register("text_bpe_token_stats", """
SELECT doc_id,
       CAST(len(tk) AS INT) AS n_bpe_tokens,
       CAST(len(list_filter(tk, x -> x ~ '^[0-9]+$')) AS INT)
         AS n_number_tokens,
       CAST(len(list_filter(tk, x -> x ~ '^[^A-Za-z0-9]$')) AS INT)
         AS n_punct_tokens
FROM (SELECT doc_id,
             regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')
               AS tk
      FROM documents)
""")
def text_bpe_token_stats(spark, sf_dir):
    """BPE-ish subword pre-tokenization counts: letter runs, digit runs,
    single punctuation — the split a byte-pair tokenizer starts from.
    The pattern uses only constructs Java regex and RE2 interpret
    identically (no backrefs, no lookaround), so DuckDB replays it."""
    d = t(spark, sf_dir, "documents")
    tk = F.expr(
        r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)")
    return d.select(
        "doc_id",
        F.size(tk).cast("int").alias("n_bpe_tokens"),
        F.size(F.filter(tk, lambda x: x.rlike("^[0-9]+$")))
        .cast("int").alias("n_number_tokens"),
        F.size(F.filter(tk, lambda x: x.rlike("^[^A-Za-z0-9]$")))
        .cast("int").alias("n_punct_tokens"))


_BM25_TERMS = ("hash", "join", "vector")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_scored(spark, sf_dir):
    """(doc_id, score) BM25 frame shared by docs_bm25_search and the
    hybrid-fusion query — see docs_bm25_search for the plan shape."""
    from pyspark.sql import Window
    d = t(spark, sf_dir, "documents")
    tk = d.select("doc_id", TX.tokens_col(F.col("text")).alias("tk"))
    stats = tk.agg(F.count("*").alias("n_docs"),
                   F.avg(F.size("tk")).alias("avg_len"))
    hits = (tk.select("doc_id", F.size("tk").alias("doc_len"),
                      F.explode(F.array(*[F.lit(q) for q in _BM25_TERMS]))
                      .alias("term"), "tk")
            .filter(F.array_contains("tk", F.col("term")))
            .select("doc_id", "doc_len", "term",
                    F.size(F.filter("tk", _term_eq)).alias("tf")))
    with_df = hits.withColumn(
        "df", F.count("*").over(Window.partitionBy("term")))
    k1, b = _BM25_K1, _BM25_B
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    score = (idf * F.col("tf") * (k1 + 1.0)
             / (F.col("tf") + k1 * (1.0 - b
                + b * F.col("doc_len") / F.col("avg_len"))))
    return (with_df.crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.round(F.sum(score), 4).alias("score")))


@register("docs_bm25_search", f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents),
stats AS (SELECT count(*) AS n_docs,
                 avg(len(tk)) AS avg_len FROM tok),
hits AS (
  SELECT doc_id, len(tk) AS doc_len, term,
         len(list_filter(tk, x -> x = term)) AS tf
  FROM tok, unnest(['{"','".join(_BM25_TERMS)}']) AS q(term)
  WHERE list_contains(tk, term)),
df AS (SELECT term, count(*) AS df FROM hits GROUP BY term)
SELECT h.doc_id,
       round(sum(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                 * h.tf * ({_BM25_K1} + 1.0)
                 / (h.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                    + {_BM25_B} * h.doc_len / s.avg_len))), 4) AS score
FROM hits h JOIN df d USING (term) CROSS JOIN stats s
GROUP BY h.doc_id
ORDER BY score DESC, h.doc_id
LIMIT 10
""")
def docs_bm25_search(spark, sf_dir):
    """Ranked text retrieval: Lucene-style BM25 over the corpus for a
    fixed conjunctive query, in ONE documents scan.  Doc length rides
    the term-filtered explode (no join back onto the corpus), document
    frequency is a tiny per-term aggregate, N/avg_len one scalar row —
    both broadcast into the scorer.  Two corpus scans total: one for the
    global stats, one for the hits — document frequency comes from a
    term-partitioned window over the hits stream (NOT a re-derivation of
    hits, which would re-scan the corpus a third time); everything after
    the hits explode is bounded by matches.  Scores rounded to 4
    decimals (ln differs across libms only in the last ulp)."""
    return (_bm25_scored(spark, sf_dir)
            .orderBy(F.desc("score"), "doc_id")
            .limit(10))


def _term_eq(x):
    return x == F.col("term")


@register("text_winnowing", """
WITH g AS (
  SELECT doc_id AS id,
         list_transform(generate_series(1, greatest(length(text)-7, 0)),
           i -> CAST('0x' || substr(md5(substr(text, i, 8)), 1, 8)
                AS BIGINT)) AS gh
  FROM documents),
f AS (
  SELECT id, list_distinct(
           list_transform(generate_series(1, greatest(len(gh)-3, 0)),
             i -> list_min(gh[i:i+3]))) AS fps
  FROM g)
SELECT id, CAST(len(fps) AS INT) AS n_fingerprints,
       list_min(fps) AS min_fingerprint FROM f
""")
def text_winnowing(spark, sf_dir):
    """Winnowing (MOSS) rolling-hash fingerprints: k=8 char grams,
    window w=4, distinct window minima.  Any shared substring of length
    >= k+w-1 = 11 yields a common fingerprint."""
    return TX.winnowing_fingerprints(t(spark, sf_dir, "documents"),
                                     k=8, w=4)


# DuckDB twin of operators/text.py::fold_lower — pre-substitute the
# two Unicode SpecialCasing lowercase inputs (U+0130, Final_Sigma Σ)
# so simple 1:1 lower() here equals Java's full toLowerCase there.
_FOLD_LOWER_SQL = "lower(replace(replace(text, 'İ', 'i̇'), 'Σ', 'σ'))"

@register("text_fingerprint", f"""
SELECT doc_id, md5(regexp_replace({_FOLD_LOWER_SQL}, '\\s+', ' ', 'g'))
       AS fingerprint
FROM documents
""")
def text_fingerprint(spark, sf_dir):
    return TX.with_fingerprint(t(spark, sf_dir, "documents"))


@register("docs_heavy_hitters", """
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
             FROM documents),
     tk AS (SELECT term FROM tok WHERE term <> '')
SELECT term, CAST(count(*) AS BIGINT) AS cnt
FROM tk GROUP BY term
HAVING count(*) * 64 > (SELECT count(*) FROM tk)
""")
def docs_heavy_hitters(spark, sf_dir):
    """Exact corpus heavy hitters (tokens with count > n/64) via the
    Misra-Gries sketch-then-verify two-pass plan
    (functions/heavy_hitters.py:heavy_hitters_exact): pass 1 merges
    fixed-memory per-partition MG summaries (a guaranteed candidate
    superset, Agarwal et al. PODS'12) with the exact stream length
    folded into the same scan; pass 2 exact-counts only the <=
    k*partitions candidates behind a broadcast semi-join.  The oracle
    is the plain GROUP BY/HAVING the sketch avoids shuffling — at
    100 TB the vocabulary is billions of distinct terms, the MG plan's
    exchanges stay O(k * partitions)."""
    from ..functions.heavy_hitters import heavy_hitters_exact
    from ..operators.text import tokens_col
    toks = (t(spark, sf_dir, "documents")
            .select(F.explode(tokens_col(F.col("text"))).alias("term")))
    return heavy_hitters_exact(toks, k=64)


# ----------------------------------------------------------- multimodal
# DuckDB twin of operators/multimodal.py::_ascii_substrate — the
# synthesized-payload substrate is the printable-ASCII projection of
# the text (each other code point -> '?'), which keeps 1 char == 1
# byte so the ascii(substr(...)) byte replays below stay exact on any
# unicode corpus.  RE2 and java.util.regex both apply the class per
# code point, so the projection is engine-identical.
_ASCII_SQL = "regexp_replace(text, '[^\\x20-\\x7e]', '?', 'g')"

@register("multimodal_metadata", f"""
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(octet_length(encode({_ASCII_SQL})) AS INT) AS n_bytes,
       64 AS width, 64 AS height
FROM documents
WHERE text IS NOT NULL
""")
def multimodal_metadata(spark, sf_dir):
    media = documents_as_media(t(spark, sf_dir, "documents"))
    out = media_metadata(media)
    return out.withColumn("width", F.col("width").cast("int")) \
              .withColumn("height", F.col("height").cast("int"))


_Y4M_FSZ = 16 * 16   # luma bytes per synthesized Cmono frame
_Y4M_NF = 8          # frames per payload; every_k=4 keeps fi in {0, 4}


@register("multimodal_y4m_frames", f"""
WITH d AS (SELECT doc_id AS media_id, {_ASCII_SQL} AS text,
                  length(text) AS L
           FROM documents WHERE length(text) > 0),
f AS (SELECT media_id, fi FROM d, unnest([0, 4]) AS u(fi)),
s AS (SELECT f.media_id, f.fi,
             list_sum(list_transform(generate_series(1, {_Y4M_FSZ}),
               j -> ascii(substr(d.text,
                      CAST(((f.fi * {_Y4M_FSZ} + j - 1) % d.L) + 1
                           AS INT), 1)))) AS f_sum
      FROM f JOIN d ON d.media_id = f.media_id)
SELECT media_id, CAST(fi AS INT) AS frame_idx,
       CAST({_Y4M_FSZ} AS INT) AS n_bytes,
       CAST(f_sum AS BIGINT) AS f_sum
FROM s
""")
def multimodal_y4m_frames(spark, sf_dir):
    """The video modality's ``decode='real'`` hash row, completing the
    image/audio/video triple: YUV4MPEG2 (Cmono) payloads synthesized
    JVM-side (plain-text stream header + FRAME markers + text bytes
    cycled into 8 luma planes), parsed FOR REAL by the pure-NumPy Y4M
    codec (kernels/codecs.py::decode_y4m — header tokens, per-frame
    marker walk, plane validation), then every 4th frame sampled at
    ACTUAL container frame boundaries (operators/multimodal.py::
    sample_frames(decode='real')).  Each kept frame is reduced to an
    exact byte sum JVM-side; the oracle re-derives the same sums from
    the cycled text bytes, so a mis-walked FRAME marker, wrong frame
    size, or off-by-one frame boundary shifts f_sum and breaks the
    hash.  Subsampled-chroma/compressed video remains a documented
    external-codec integration point."""
    from ..operators.multimodal import (documents_as_y4m_media,
                                        sample_frames)
    media = documents_as_y4m_media(t(spark, sf_dir, "documents"),
                                   w=16, h=16, n_frames=_Y4M_NF)
    frames = sample_frames(media, every_k=4, decode="real")
    return (frames
            .select("media_id", "frame_idx",
                    F.decode("frame", "utf-8").alias("fs"))
            .select("media_id", "frame_idx",
                    F.length("fs").cast("int").alias("n_bytes"),
                    F.expr("aggregate(transform(sequence(1, length(fs)),"
                           " i -> ascii(substr(fs, i, 1))), 0L,"
                           " (a, x) -> a + x)").alias("f_sum")))


_WAV_N = 128      # mono PCM-16 samples per synthesized payload


@register("multimodal_wav_decode", f"""
WITH d AS (SELECT doc_id AS media_id, {_ASCII_SQL} AS text,
                  length(text) AS L
           FROM documents WHERE length(text) > 0),
sm AS (SELECT media_id,
              list_transform(
                list_transform(generate_series(1, {_WAV_N // 8}),
                  i -> ascii(substr(text,
                               CAST(((2*i - 2) % L) + 1 AS INT), 1))
                       + 256 * ascii(substr(text,
                               CAST(((2*i - 1) % L) + 1 AS INT), 1))),
                v -> CASE WHEN v >= 32768 THEN v - 65536 ELSE v END)
              AS s
       FROM d)
SELECT media_id, CAST({44 + 2 * _WAV_N} AS INT) AS n_bytes,
       round(round_even(list_sum(s) / {_WAV_N // 8}.0, 6), 6) AS f0
FROM sm
""")
def multimodal_wav_decode(spark, sf_dir):
    """The audio modality's ``decode='real'`` hash row, symmetric to
    ``multimodal_pgm_decode``: mono PCM-16 WAV payloads synthesized
    JVM-side (44-byte RIFF header + text bytes cycled into 128
    little-endian int16 samples), decoded FOR REAL by the pure-NumPy
    RIFF chunk walker (kernels/codecs.py::decode_wav — chunk
    traversal, fmt validation, PCM-16-mono check), then the shared
    bucket-mean featurization runs on the true samples.  The oracle
    reconstructs each sample as lo + 256*hi from the cycled text bytes
    (signed fold included for fidelity; ASCII bytes never set the sign
    bit) — a header mis-walk, endianness flip, or sample off-by-one
    shifts f0/n_bytes and breaks the hash.  Compressed audio remains a
    documented external-codec integration point."""
    from ..operators.multimodal import (decode_and_featurize,
                                        documents_as_wav_media)
    media = documents_as_wav_media(t(spark, sf_dir, "documents"),
                                   n_samples=_WAV_N)
    feats = decode_and_featurize(media, decode="real")
    return feats.select("media_id", "n_bytes",
                        F.round(F.element_at("feature", 1), 6)
                        .alias("f0"))


_PGM_W = _PGM_H = 16
_PGM_HEADER_LEN = len(f"P5\n{_PGM_W} {_PGM_H}\n255\n".encode())


@register("multimodal_pgm_decode", f"""
WITH d AS (SELECT doc_id AS media_id, {_ASCII_SQL} AS text,
                  length(text) AS L
           FROM documents WHERE length(text) > 0),
px AS (SELECT media_id,
              list_transform(generate_series(1, {_PGM_W * _PGM_H // 8}),
                i -> ascii(substr(text,
                                  CAST(((i - 1) % L) + 1 AS INT), 1)))
              AS p
       FROM d)
SELECT media_id,
       CAST({_PGM_HEADER_LEN + _PGM_W * _PGM_H} AS INT) AS n_bytes,
       round(round_even(list_sum(p) / {_PGM_W * _PGM_H // 8}.0, 6), 6)
         AS f0
FROM px
""")
def multimodal_pgm_decode(spark, sf_dir):
    """The multimodal ``decode='real'`` path, exercised with an ACTUAL
    image format: binary PGM payloads are synthesized JVM-side from
    document bytes (netpbm header + text bytes cycled to a 16x16
    raster, operators/multimodal.py::documents_as_pgm_media), then
    decoded FOR REAL by the pure-NumPy netpbm codec
    (kernels/codecs.py::decode_pnm — header tokenizer, comment
    handling, raster length validation) before the same bucket-mean
    featurization as ``multimodal_features``.  The oracle replays the
    cycled raster bytes with ``ascii(substr(...))`` (exact for any
    corpus since the substrate is the ASCII projection —
    ``_ascii_substrate`` / ``_ASCII_SQL``) and the chunk
    mean with ``round_even``; a header mis-parse, off-by-one in the
    raster offset, or a dropped/duplicated pixel shifts f0 or n_bytes
    and breaks the hash.  Formats needing external codecs (JPEG/PNG/
    video) remain documented NotImplementedError integration points."""
    from ..operators.multimodal import (decode_and_featurize,
                                        documents_as_pgm_media)
    media = documents_as_pgm_media(t(spark, sf_dir, "documents"),
                                   w=_PGM_W, h=_PGM_H)
    feats = decode_and_featurize(media, decode="real")
    return feats.select("media_id", "n_bytes",
                        F.round(F.element_at("feature", 1), 6)
                        .alias("f0"))


_RSZ_W = _RSZ_H = 8  # resize target: 16x16 PGM -> 8x8 PGM
_RSZ_HEADER_LEN = len(f"P5\n{_RSZ_W} {_RSZ_H}\n255\n".encode())


@register("multimodal_resize", f"""
WITH d AS (SELECT doc_id AS media_id, {_ASCII_SQL} AS text,
                  length(text) AS L
           FROM documents WHERE length(text) > 0),
px AS (SELECT media_id,
              list_transform(generate_series(0, {_RSZ_W * _RSZ_H - 1}),
                i -> ascii(substr(text,
                  CAST(((((i // {_RSZ_W}) * ({_PGM_H} // {_RSZ_H}))
                         * {_PGM_W}
                         + (i % {_RSZ_W}) * ({_PGM_W} // {_RSZ_W}))
                        % L) + 1 AS INT), 1)))
              AS p
       FROM d)
SELECT media_id,
       CAST({_RSZ_HEADER_LEN + _RSZ_W * _RSZ_H} AS INT) AS n_bytes,
       round(round_even(list_sum(p) / {_RSZ_W * _RSZ_H}.0, 6), 6) AS f0
FROM px
""")
def multimodal_resize(spark, sf_dir):
    """``resize_media(decode='real')``'s hash row: the full
    decode -> nearest-neighbor resample -> re-encode -> RE-DECODE
    round-trip on actual binary PGM payloads.  16x16 rasters
    synthesized JVM-side from document bytes are parsed by the
    pure-NumPy netpbm codec, resampled to 8x8 via
    ``src_row = (r * h) // out_h`` index arithmetic
    (operators/multimodal.py::resize_media), re-encoded as PGM, and
    the resized payload is then decoded AGAIN by the shared
    featurization — so the re-encoded header and raster are verified
    by a second real parse, not trusted.  The oracle replays the
    composed index map (output pixel i reads source byte
    ``(i//8)*2*16 + (i%8)*2`` of the cycled text) and the bucket mean
    with ``round_even``; a resample off-by-one, a transposed axis, or
    a malformed re-encoded header breaks n_bytes or f0."""
    from ..operators.multimodal import (decode_and_featurize,
                                        documents_as_pgm_media,
                                        resize_media)
    media = documents_as_pgm_media(t(spark, sf_dir, "documents"),
                                   w=_PGM_W, h=_PGM_H)
    resized = resize_media(media, out_w=_RSZ_W, out_h=_RSZ_H,
                           decode="real")
    feats = decode_and_featurize(resized, decode="real", feature_dim=1)
    return feats.select("media_id", "n_bytes",
                        F.round(F.element_at("feature", 1), 6)
                        .alias("f0"))


@register("multimodal_features", f"""
WITH d0 AS (SELECT doc_id AS media_id, {_ASCII_SQL} AS text
            FROM documents WHERE text IS NOT NULL),
d AS (SELECT media_id, text, octet_length(encode(text)) AS n FROM d0),
c AS (SELECT media_id, n,
             (n // 8) + CASE WHEN n % 8 > 0 THEN 1 ELSE 0 END AS c0
      FROM d),
s AS (SELECT c.media_id, c.n, c.c0,
             list_sum(list_transform(generate_series(1, c.c0),
                      i -> ascii(substr(d.text, i, 1)))) AS sm
      FROM c JOIN d USING (media_id))
SELECT media_id, CAST(n AS INT) AS n_bytes,
       round(round_even(coalesce(sm, 0) / greatest(c0, 1), 6), 6) AS f0
FROM s
""")
def multimodal_features(spark, sf_dir):
    """Arrow-batched decode -> fixed-width feature vectors over binary
    payloads (deterministic fake decode standing in for PIL/ffmpeg;
    the Spark-side plumbing — schema, batching, UDF signature — is what
    this exercises).

    Round 3 replaced the rows-only check with a REAL oracle: the fake
    decode is pure byte arithmetic (uint8 mean of the first
    ``array_split`` chunk, numpy half-even rounding at 6 dp), which
    DuckDB replays as ``ascii(substr(...))`` byte sums + ``round_even``
    — valid because the synthetic corpus is pure ASCII (utf-8 bytes ==
    code points; ``octet_length == length`` asserted over the whole
    corpus at gate scale by ``tests/test_multimodal.py``, so a testdata
    regeneration that adds non-ASCII fails at the guard, not as an
    opaque hash mismatch).  An EMPTY payload fake-decodes as a single
    zero byte (np.zeros(1)) with f0 = 0.0; the oracle mirrors it with
    ``coalesce(sm, 0) / greatest(c0, 1)`` (round-3 ADVICE: the bare
    ``sm / c0`` was a latent NULL-vs-0.0 divergence).  The
    ``decode='real'`` integration point stays non-SQL by nature."""
    from ..operators.multimodal import decode_and_featurize
    media = documents_as_media(t(spark, sf_dir, "documents"))
    feats = decode_and_featurize(media, decode="fake")
    return feats.select("media_id", "n_bytes",
                        F.round(F.element_at("feature", 1), 6)
                        .alias("f0"))


# ------------------------------------------------------- events / time
@register("events_hourly_windows", """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(CASE WHEN isfinite(value) THEN value END
                           AS DECIMAL(27,9))), 4) AS DOUBLE) AS total_value
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
""")
def events_hourly_windows(spark, sf_dir):
    return windowed_event_counts(t(spark, sf_dir, "events"), "1 hour")


@register("events_asof_last_click", """
SELECT l.event_id, l.user_id,
       CASE WHEN l.ts IS NOT NULL THEN r.event_id END AS click_event_id,
       CASE WHEN l.ts IS NOT NULL THEN r.value END AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (
  SELECT user_id, ts, max(event_id) AS event_id,
         arg_max(value, event_id) AS value
  FROM events
  WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY user_id, ts
) r ON l.user_id = r.user_id AND l.ts >= r.ts
""")
def events_asof_last_click(spark, sf_dir):
    """Point-in-time attribution: each purchase joined to the user's most
    recent click at-or-before purchase time (union+window as-of join —
    one shuffle, no range-join explosion).

    Both sides pre-collapse clicks to one row per (user_id, ts) keeping
    the max event_id: DuckDB's ASOF JOIN tie choice among equal r.ts
    rows is unspecified, so the oracle would be nondeterministic on tied
    data without this (the current seed data has no ties; this is
    insurance against regenerated data).

    NULL semantics are pinned to SQL comparison rules on both sides
    (``asof_join`` drops NULL-key/NULL-ts clicks and never matches a
    NULL-ts purchase); the oracle needs the explicit WHERE + CASE
    because DuckDB's ASOF implementation sorts NULLs last and would
    otherwise match a NULL-ts purchase to the user's LAST click
    (round-12 dirty-corpus fuzz)."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = (ev.filter(F.col("event_type") == "click")
              .groupBy("user_id", "ts")
              .agg(F.max("event_id").alias("event_id"),
                   F.max_by("value", "event_id").alias("value")))
    j = asof_join(purchases, clicks, on=["user_id"],
                  left_ts="ts", right_ts="ts", right_id="event_id")
    return j.select("event_id", "user_id",
                    F.col("event_id_r").alias("click_event_id"),
                    F.col("value_r").alias("click_value"))


@register("events_sessionize", """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_id,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM s GROUP BY user_id, session_idx
""")
def events_sessionize(spark, sf_dir):
    return sessionize_batch(t(spark, sf_dir, "events"))


@register("events_session_windows", """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w >= 1800
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM g)
SELECT user_id, min(ts) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
""")
def events_session_windows(spark, sf_dir):
    """Spark's NATIVE session_window operator (the streaming-compatible
    form of sessionization: the same groupBy works under a watermark with
    state merging).  Semantics caveat the oracle must mirror: Spark's
    session spans [first_ts, last_ts + gap), so a new session starts when
    the inter-event gap is >= the timeout — strict `>` in `sessionize_
    batch` vs `>=` here (they differ only on exactly-1800 s gaps).
    Second caveat the oracle mirrors (WHERE ts IS NOT NULL): Spark's
    session_window, like every time window, silently drops NULL-ts rows
    — DuckDB's lag/cumsum replay would instead sessionize them under
    its NULLS LAST order (round-12 dirty-corpus fuzz)."""
    ev = t(spark, sf_dir, "events")
    return (ev.groupBy("user_id",
                       F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.min("event_id").alias("first_event"),
                 F.max("event_id").alias("last_event"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    "n_events", "first_event", "last_event")
            .orderBy("user_id", "session_start"))


@register("docs_stratified_sample", """
SELECT doc_id, lang, source
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      % 100 < CASE WHEN lang = 'en' THEN 10 ELSE 40 END
""")
def docs_stratified_sample(spark, sf_dir):
    """Deterministic stratified Bernoulli sampling by content-stable hash
    (down-sample the dominant language, keep more of the rest) — the
    reproducible training-mix rebalance.  Pure narrow filter fused into
    the scan: no shuffle, no RNG state, identical sample on re-run and
    across engines."""
    d = t(spark, sf_dir, "documents")
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 8), 16, 10).cast("long") % 100)
    rate = F.when(F.col("lang") == "en", 10).otherwise(40)
    return d.filter(bucket < rate).select("doc_id", "lang", "source")


@register("events_hourly_gapfill", """
WITH span AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events),
hours AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM span),
types AS (SELECT DISTINCT event_type FROM events),
agg AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(round(sum(CAST(CASE WHEN isfinite(value) THEN value END
                             AS DECIMAL(27,9))), 2) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2)
SELECT t.event_type, h.hour,
       coalesce(a.n_events, 0) AS n_events,
       coalesce(a.sum_value, 0.0) AS sum_value
FROM hours h CROSS JOIN types t
LEFT JOIN agg a ON a.hour = h.hour AND a.event_type = t.event_type
""")
def events_hourly_gapfill(spark, sf_dir):
    """Time-series resample with zero-filled gaps: generate the dense
    hour x event_type grid (bounded: hours-in-span x n_types, always
    tiny) and left-join the hourly aggregates onto it.  The aggregate is
    partial-agg'd map-side; the dense grid stays broadcast-sized at any
    raw-data scale, so the gap-fill join never shuffles the big table
    twice."""
    ev = t(spark, sf_dir, "events")
    span = ev.agg(F.date_trunc("hour", F.min("ts")).alias("h0"),
                  F.date_trunc("hour", F.max("ts")).alias("h1"))
    hours = span.select(F.explode(
        F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"))
    types = ev.select("event_type").distinct()
    # Exact-DECIMAL finite-only sum, rounded as a DECIMAL (round-14
    # fuzz, seed 131 class): summing doubles is shuffle-order
    # nondeterministic at scale, and rounding a DOUBLE at 2 diverges
    # between the engines when the sum lands on a true half-cent
    # (Spark rounds the shortest decimal representation, DuckDB the
    # binary value).  Non-finite values have no exact-decimal form and
    # are excluded identically on both sides (isfinite CASE in the
    # oracle) — the convention events_incremental_rollup pinned.
    agg = (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                      "event_type")
           .agg(F.count("*").cast("bigint").alias("n_events"),
                F.round(F.sum(finite_or_null("value")
                              .cast("decimal(27,9)")), 2)
                .cast("double").alias("sum_value")))
    return (hours.crossJoin(F.broadcast(types))
            .join(agg, ["hour", "event_type"], "left")
            .select("event_type", "hour",
                    F.coalesce("n_events", F.lit(0)).alias("n_events"),
                    F.coalesce("sum_value", F.lit(0.0)).alias("sum_value")))


def _cluster_canonical_sql() -> str:
    # transitive closure of the LSH pair graph via WITH RECURSIVE:
    # every node collects all reachable ids, min = component label —
    # the iterative min-propagation fixpoint expressed declaratively.
    return _minhash_pairs_cte().replace("WITH ", "WITH RECURSIVE ", 1) + """,
edges AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, lbl) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
ranked AS (
  SELECT c.cluster_id, c.id, row_number() OVER (
           PARTITION BY c.cluster_id
           ORDER BY d.n_chars DESC, c.id) AS rn,
         count(*) OVER (PARTITION BY c.cluster_id) AS n_docs
  FROM comp c JOIN documents d ON d.doc_id = c.id)
SELECT cluster_id, CAST(n_docs AS BIGINT) AS n_docs, id AS keep_id
FROM ranked WHERE rn = 1
"""


@register("dedup_cluster_canonical", _cluster_canonical_sql())
def dedup_cluster_canonical(spark, sf_dir):
    """Near-dup clustering end-to-end: MinHash-LSH candidate pairs ->
    connected components (distributed min-label propagation) -> keep the
    longest member per cluster.  The full 'collapse duplicate groups to
    one canonical document' retention policy of a training-data dedup
    pass."""
    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs)
    clusters = D.connected_components(pairs)
    return D.canonical_per_cluster(docs, clusters)


@register("docs_pack_sequences", """
WITH tk AS (
  SELECT doc_id AS id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n_tokens
  FROM documents),
o AS (
  SELECT id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS BIGINT) AS start_off
  FROM tk)
SELECT id, n_tokens, start_off,
       start_off // 2048 AS seq_first,
       (start_off + greatest(n_tokens - 1, 0)) // 2048 AS seq_last,
       start_off % 2048 AS offset_in_seq
FROM o
""")
def docs_pack_sequences(spark, sf_dir):
    """Sequence packing for training shards: concatenate documents in id
    order, chunk the stream into 2048-token sequences, emit each doc's
    placement.  Spark side never single-partitions (two-phase prefix
    sum); the oracle is the equivalent one-window formulation."""
    return TX.pack_sequences(t(spark, sf_dir, "documents"), budget=2048)


@register("docs_weighted_interleave", """
WITH b AS (
  SELECT doc_id, source,
         1 + coalesce(TRY_CAST(regexp_extract(source, '[0-9]+') AS INT),
                      0) % 4 AS w,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents)
SELECT doc_id, source,
       CAST((rn - 1) // w AS BIGINT) AS mix_round,
       CAST((rn - 1) % w AS BIGINT) AS mix_slot
FROM b
""")
def docs_weighted_interleave(spark, sf_dir):
    """Weighted source interleaving (training-mix schedule): source s with
    weight w_s contributes w_s documents per mix round, in doc-id order.
    (mix_round, source, mix_slot) is the deterministic global emit order
    — a shard writer sorts by it to materialize the mix.  Per-source
    numbering comes from the grouped two-phase prefix sum, so a dominant
    source never serializes onto one partition (the oracle's
    PARTITION BY source window would)."""
    from ..functions.ids import exclusive_prefix_sum

    d = (t(spark, sf_dir, "documents")
         .select("doc_id", "source", F.lit(1).alias("one")))
    rn = exclusive_prefix_sum(d, "doc_id", "one", out_col="rn0",
                              group_col="source")
    # try_cast + coalesce: a source name with no digit makes
    # regexp_extract return '' and the ANSI cast KILL the query — on
    # both engines, consistently, but a mix schedule must be total
    # over source names (weight 1 for digitless/NULL sources), not
    # crash on the first 'books' corpus (null_parity_sweep).
    w = 1 + F.coalesce(
        F.regexp_extract("source", "[0-9]+", 0).try_cast("int"),
        F.lit(0)) % 4
    return (rn.withColumn("w", w)
            .select("doc_id", "source",
                    F.expr("rn0 div w").cast("long").alias("mix_round"),
                    (F.col("rn0") % F.col("w")).cast("long")
                    .alias("mix_slot")))


def _ivf_topk_sql(n_centroids: int = 8, n_probe: int = 2) -> str:
    cos = _DUCK_COS  # NULL-total (zero-norm -> NULL, see top)
    return f"""
WITH v AS (SELECT vec_id,
                  {_DUCK_VEC} AS ve
           FROM embeddings),
c AS (SELECT cid, cv FROM (SELECT vec_id AS cid, ve AS cv, row_number() OVER (ORDER BY vec_id) AS rn FROM v) WHERE rn <= {n_centroids}),
q AS (SELECT ve AS qv FROM v WHERE vec_id = {_DUCK_QVEC}),
pc AS (SELECT v.vec_id, c.cid,
              {cos.format(a="v.ve", b="c.cv")} AS cos
       FROM v, c),
cell AS (SELECT vec_id, cid AS cell FROM (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cid) AS rn
  FROM pc) WHERE rn = 1),
probe AS (SELECT cid FROM (
  SELECT c.cid, row_number() OVER (
           ORDER BY {cos.format(a="c.cv", b="q.qv")} DESC, c.cid) AS rn
  FROM c, q) WHERE rn <= {n_probe}),
cand AS (SELECT v.vec_id, v.ve
         FROM v JOIN cell ON v.vec_id = cell.vec_id
                JOIN probe ON cell.cell = probe.cid),
s AS (SELECT vec_id, {cos.format(a="ve", b="qv")} AS cos FROM cand, q)
SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank,
       vec_id
FROM s ORDER BY rank LIMIT 10
"""


@register("ann_ivf_topk", _ivf_topk_sql())
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN scale path: deterministic coarse quantizer (lowest-id
    centroids), probe the 2 nearest of 8 cells, score only those
    vectors.  The oracle replays the identical quantize->probe->score
    pipeline."""
    emb = t(spark, sf_dir, "embeddings")
    return S.ivf_cosine_topk(emb, _query_vec(emb), k=10,
                             n_centroids=8, n_probe=2)


def _ivfpq_topk_sql(n_centroids: int = 8, n_probe: int = 2,
                    n_sub: int = 8, sub_dim: int = 8,
                    n_codes: int = 4) -> str:
    cos = _DUCK_COS  # NULL-total (zero-norm -> NULL, see top)
    subl2 = ("list_reduce(list_transform(generate_series(1, {sd}), "
             "i -> ({x}[s.s * {sd} + i] - {y}[s.s * {sd} + i])"
             " * ({x}[s.s * {sd} + i] - {y}[s.s * {sd} + i])), "
             "(a, b) -> a + b)")
    return f"""
WITH v AS (SELECT vec_id,
                  {_DUCK_VEC} AS ve
           FROM embeddings),
c AS (SELECT cid, cv FROM (SELECT vec_id AS cid, ve AS cv, row_number() OVER (ORDER BY vec_id) AS rn FROM v) WHERE rn <= {n_centroids}),
q AS (SELECT ve AS qv FROM v WHERE vec_id = {_DUCK_QVEC}),
pc AS (SELECT v.vec_id, c.cid,
              {cos.format(a="v.ve", b="c.cv")} AS cos
       FROM v, c),
cell AS (SELECT vec_id, cid AS cell FROM (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cid) AS rn
  FROM pc) WHERE rn = 1),
probe AS (SELECT cid FROM (
  SELECT c.cid, row_number() OVER (
           ORDER BY {cos.format(a="c.cv", b="q.qv")} DESC, c.cid) AS rn
  FROM c, q) WHERE rn <= {n_probe}),
cb AS (SELECT cid, cv FROM (SELECT vec_id AS cid, ve AS cv, row_number() OVER (ORDER BY vec_id) AS rn FROM v) WHERE rn <= {n_codes}),
subd AS (SELECT v.vec_id, cb.cid, s.s,
                {subl2.format(x="v.ve", y="cb.cv", sd=sub_dim)} AS d
         FROM v, cb, generate_series(0, {n_sub - 1}) s(s)),
code AS (SELECT vec_id, s, cid FROM (
  SELECT vec_id, s, cid,
         row_number() OVER (PARTITION BY vec_id, s
                            ORDER BY d, cid) AS rn
  FROM subd) WHERE rn = 1),
qtab AS (SELECT cb.cid, s.s,
                {subl2.format(x="q.qv", y="cb.cv", sd=sub_dim)} AS d
         FROM cb, q, generate_series(0, {n_sub - 1}) s(s)),
cand AS (SELECT cell.vec_id FROM cell
         JOIN probe ON cell.cell = probe.cid),
adc AS (SELECT code.vec_id,
               list_reduce(list(qtab.d ORDER BY code.s),
                           (a, b) -> a + b) AS adc
        FROM code
        JOIN cand ON cand.vec_id = code.vec_id
        JOIN qtab ON qtab.s = code.s AND qtab.cid = code.cid
        GROUP BY code.vec_id)
SELECT CAST(row_number() OVER (ORDER BY adc ASC, vec_id) AS INT) AS rank,
       vec_id
FROM adc ORDER BY rank LIMIT 10
"""


@register("ann_ivfpq_topk", _ivfpq_topk_sql())
def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ANN (IVFADC): coarse-probe 2 of 8 cells, then rank the
    candidates by PQ asymmetric distance — per-sub-space query-to-
    codebook L2 looked up from one broadcast table, never touching the
    original vectors (operators/similarity.py: ivfpq_topk).  The oracle
    replays quantize -> probe -> code -> ADC with identical fold
    orders, so even the double distances agree bit-for-bit."""
    emb = t(spark, sf_dir, "embeddings")
    return S.ivfpq_topk(emb, _query_vec(emb), k=10,
                        n_centroids=8, n_probe=2,
                        n_sub=8, sub_dim=8, n_codes=4)


@register("ann_ivfpq_indexed", _ivfpq_topk_sql())
def ann_ivfpq_indexed(spark, sf_dir):
    """IVF-PQ ANN against a PERSISTED index — the production vector-
    store shape (index built once, queries read 16-bit codes): build
    writes (id, code) parquet partitioned by cell plus tiny
    centroid/codebook metadata tables to a fresh temp dir
    (operators/similarity.py: build_ivfpq_index), then the query side
    probes 2 of 8 cells and ranks by ADC reading ONLY the stored
    index — partition pruning skips the other cells' files and the
    float corpus is never opened (ivfpq_topk_indexed).  The oracle
    replays quantize -> probe -> code -> ADC from the raw table, so a
    single row lost, duplicated, or re-quantized by the write/read
    round-trip breaks the hash.

    SIDE EFFECT AT BUILD TIME (same contract as
    parquet_sink_roundtrip): the index write runs when the builder is
    invoked; each invocation gets its own temp dir so concurrent
    gate/bench/ratchet runs cannot race."""
    import tempfile
    emb = t(spark, sf_dir, "embeddings")
    qv = _query_vec(emb)
    path = tempfile.mkdtemp(prefix="spark_ivfpq_index_")
    _cleanup_at_exit(path)
    S.build_ivfpq_index(emb, path, n_centroids=8,
                        n_sub=8, sub_dim=8, n_codes=4)
    return S.ivfpq_topk_indexed(spark, path, qv,
                                k=10, n_probe=2,
                                n_sub=8, sub_dim=8, n_codes=4)


# Per-application cache for the query-only ANN arm: (applicationId,
# sf_dir) -> (index path, query vector).  First invocation builds the
# disk index and reads the query vector from the raw table; every
# later invocation touches ONLY the stored index — so a bench warmup
# pays the build and the measured wall is pure query-side.
_IVFPQ_QUERY_CACHE: dict = {}


@register("ann_ivfpq_query", _ivfpq_topk_sql())
def ann_ivfpq_query(spark, sf_dir):
    """QUERY-ONLY arm of the persisted IVF-PQ index — the companion to
    ``ann_ivfpq_indexed``, which measures build+query in one wall (the
    build dominates).  Here the index build (and the query-vector
    lookup, the only raw-table read) is amortized across invocations
    behind a per-application cache, so repeated calls measure what a
    vector store actually serves at 100 TB: a hive-partition-pruned
    scan of the 2-of-8 probed cells' 16-bit codes plus one broadcast
    ADC table — the float corpus is never opened.  Result and oracle
    are identical to ``ann_ivfpq_indexed`` (bit-identical ADC folds).

    SIDE EFFECT ON FIRST CALL per (application, sf_dir): the index
    write (same contract as ann_ivfpq_indexed, own temp dir, removed
    at interpreter exit).  The cache assumes sf_dir's parquet is
    immutable for the life of the application — the driver/bench
    contract here; a mutable corpus needs ``_IVFPQ_QUERY_CACHE.clear()``
    after a data change, exactly as a production vector store needs an
    index rebuild."""
    import os
    import tempfile
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _IVFPQ_QUERY_CACHE.get(key)
    if cached is None or not os.path.isdir(f"{cached[0]}/index"):
        emb = t(spark, sf_dir, "embeddings")
        path = tempfile.mkdtemp(prefix="spark_ivfpq_qonly_")
        _cleanup_at_exit(path)
        S.build_ivfpq_index(emb, path, n_centroids=8,
                            n_sub=8, sub_dim=8, n_codes=4)
        qv = _query_vec(emb)
        cached = (path, qv)
        _IVFPQ_QUERY_CACHE[key] = cached
    path, qv = cached
    return S.ivfpq_topk_indexed(spark, path, qv, k=10, n_probe=2,
                                n_sub=8, sub_dim=8, n_codes=4)


def _ann_recall_panel_sql() -> str:
    """Compose the three approximate arms' registered oracles (each a
    self-contained WITH query, legal as a parenthesized CTE body in
    DuckDB) against the brute-force arm and count overlaps."""
    exact = REGISTRY["ann_cosine_topk"][1]
    lsh = REGISTRY["ann_lsh_topk"][1]
    ivf = REGISTRY["ann_ivf_topk"][1]
    pq = REGISTRY["ann_ivfpq_topk"][1]
    return f"""
WITH ex AS ({exact}),
l AS ({lsh}),
iv AS ({ivf}),
pq AS ({pq})
SELECT * FROM (
  SELECT 'ivf' AS method, CAST(count(*) AS BIGINT) AS hits_at_10
  FROM iv JOIN ex ON ex.vec_id = iv.vec_id
  UNION ALL
  SELECT 'ivfpq', CAST(count(*) AS BIGINT)
  FROM pq JOIN ex ON ex.vec_id = pq.vec_id
  UNION ALL
  SELECT 'lsh', CAST(count(*) AS BIGINT)
  FROM l JOIN ex ON ex.vec_id = l.vec_id)
ORDER BY method
"""


@register("ann_recall_panel", _ann_recall_panel_sql())
def ann_recall_panel(spark, sf_dir):
    """ANN index-quality monitoring — the recall gate a production
    vector store runs after (re)building an index: recall@10 of each
    approximate method (hyperplane-LSH bucket, IVF probe-2/8, IVF-PQ
    ADC) against the brute-force cosine top-10, as exact integer hit
    counts.  All four arms are the registered operators themselves, so
    this also pins their mutual consistency; the oracle composes the
    same four registered oracle queries.  At scale the exact arm runs
    on a fixed evaluation sample, the approximate arms on the index —
    the panel's cost is the sample size, not the corpus."""
    emb = t(spark, sf_dir, "embeddings")
    qv = _query_vec(emb)
    exact = S.cosine_topk(emb, qv, k=10).select("vec_id")
    arms = [
        ("ivf", S.ivf_cosine_topk(emb, qv, k=10,
                                  n_centroids=8, n_probe=2)),
        ("ivfpq", S.ivfpq_topk(emb, qv, k=10, n_centroids=8, n_probe=2,
                               n_sub=8, sub_dim=8, n_codes=4)),
        ("lsh", S.lsh_cosine_topk(emb, qv, S.default_lsh_planes(),
                                  k=10)),
    ]
    parts = [a.select("vec_id").join(exact, "vec_id")
             .agg(F.count("*").cast("long").alias("hits_at_10"))
             .select(F.lit(m).alias("method"), "hits_at_10")
             for m, a in arms]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("method")


@register("events_view_click_attribution", """
SELECT c.user_id, v.event_id AS view_id, c.event_id AS click_id
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTE
""")
def events_view_click_attribution(spark, sf_dir):
    """Interval attribution join (batch form of the watermarked
    stream-stream join in streaming/events.py): each click pairs with
    every same-user view in the preceding 30 min.  Equi-join on user_id
    with the time range as residual — one shuffle."""
    from ..streaming.events import view_click_attribution

    ev = t(spark, sf_dir, "events")
    return view_click_attribution(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"))


@register("text_repetition", """
WITH tk AS (
  SELECT doc_id AS id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents),
tri AS (
  SELECT id, list_transform(
           generate_series(1, greatest(len(tk) - 2, 0)),
           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS tri
  FROM tk),
tri_stats AS (
  SELECT id, CAST(len(tri) AS BIGINT) AS n_trigrams,
         CAST(len(list_distinct(tri)) AS BIGINT) AS n_distinct_trigrams
  FROM tri),
bg AS (
  SELECT id, unnest(list_transform(
           generate_series(1, greatest(len(tk) - 1, 0)),
           i -> tk[i] || ' ' || tk[i+1])) AS bg
  FROM tk),
bi_stats AS (
  SELECT id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         CAST(max(c) AS BIGINT) AS max_bigram_count
  FROM (SELECT id, bg, count(*) AS c FROM bg GROUP BY id, bg)
  GROUP BY id)
SELECT t.id, t.n_trigrams, t.n_distinct_trigrams,
       coalesce(b.n_bigrams, 0) AS n_bigrams,
       coalesce(b.max_bigram_count, 0) AS max_bigram_count
FROM tri_stats t LEFT JOIN bi_stats b ON b.id = t.id
""")
def text_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals: duplicate-trigram mass
    and most-frequent-bigram share, integer contract."""
    return TX.repetition_signals(t(spark, sf_dir, "documents"))


@register("doc_chunks", """
WITH tk AS (
  SELECT doc_id AS id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents),
s AS (
  SELECT id, tk, unnest(generate_series(1, len(tk), 48)) AS start
  FROM tk)
SELECT id, CAST((start - 1) // 48 AS BIGINT) AS chunk_idx,
       CAST(len(tk[start:start+63]) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(tk[start:start+63], ' ')) AS chunk_hash
FROM s
""")
def doc_chunks(spark, sf_dir):
    """Overlapping 64-token / 48-stride document chunking (RAG indexing
    fan-out); chunk text is hashed for the cross-engine contract."""
    return TX.chunk_documents(t(spark, sf_dir, "documents"),
                              chunk_tokens=64, stride=48)


@register("docs_fixed_per_lang_sample", """
SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
WHERE rn <= 20
""")
def docs_fixed_per_lang_sample(spark, sf_dir):
    """Exactly-n-per-stratum sampling: order each language's docs by a
    content-stable hash (a deterministic shuffle) and keep the first 20.
    Uses the two-phase `grouped_topk` — a dominant language's rows never
    funnel through one reducer, unlike the oracle's window form."""
    from ..functions.skew import grouped_topk

    d = (t(spark, sf_dir, "documents")
         .select("lang", "doc_id",
                 F.md5(F.col("doc_id").cast("string")).alias("h")))
    return (grouped_topk(d, ["lang"], [F.asc("h"), F.asc("doc_id")], k=20)
            .select("lang", "doc_id"))


@register("events_asof_next_purchase", """
SELECT c.event_id AS click_id, c.user_id,
       (SELECT p.event_id FROM events p
        WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        ORDER BY p.ts, p.event_id DESC LIMIT 1) AS purchase_id
FROM events c WHERE c.event_type = 'click'
""")
def events_asof_next_purchase(spark, sf_dir):
    """Forward as-of with tolerance: each click matched to the NEXT
    same-user purchase within 30 min (conversion attribution).  Same
    union+window linear plan as the backward form — direction just flips
    the window order; tolerance is a narrow post-filter.  The oracle is
    the correlated-subquery formulation (DuckDB ASOF has no tolerance)."""
    ev = t(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id", "ts"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", F.col("ts").alias("p_ts"),
                         F.col("event_id").alias("p_id")))
    j = asof_join(clicks, purchases, on=["user_id"],
                  left_ts="ts", right_ts="p_ts", right_id="p_id",
                  direction="forward", tolerance_seconds=30 * 60)
    return j.select("click_id", "user_id",
                    F.col("p_id_r").alias("purchase_id"))


@register("events_sliding_windows", """
WITH offs AS (SELECT unnest([0, 15, 30, 45]) AS off_min),
w AS (
  SELECT e.event_type,
         date_trunc('hour', e.ts - to_minutes(o.off_min))
           + to_minutes(o.off_min) AS window_start,
         e.value
  FROM events e, offs o
  WHERE e.ts >= date_trunc('hour', e.ts - to_minutes(o.off_min))
                + to_minutes(o.off_min))
SELECT event_type, window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(CASE WHEN isfinite(value) THEN value END
                           AS DECIMAL(27,9))), 4) AS DOUBLE) AS total_value
FROM w GROUP BY event_type, window_start
""")
def events_sliding_windows(spark, sf_dir):
    """Sliding 1-hour windows every 15 min: each event lands in 4
    overlapping windows (`F.window(ts, '1 hour', '15 minutes')` — the
    built-in generates the window set JVM-side; the oracle replays it as
    an explicit 4-offset fan-out).  Value sums ride finite-only
    DECIMAL(27,9) partials, rounded as DECIMALs (seed-131 convention;
    round-15 tie audit: a 5-decimal value splits the DOUBLE round)."""
    ev = t(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"),
                       "event_type")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.round(F.sum(finite_or_null("value")
                               .cast("decimal(27,9)")), 4)
                 .cast("double").alias("total_value"))
            .select("event_type", F.col("w.start").alias("window_start"),
                    "n_events", "total_value"))


# --------------------------------------- composed curation pipeline
def _curation_sql() -> str:
    score = {lang: ("len(list_filter(tk, x -> list_contains(["
                    + ", ".join(f"'{m}'" for m in ms) + "], x)))")
             for lang, ms in sorted(TX.LANG_MARKERS.items())}
    langs = sorted(TX.LANG_MARKERS)
    best = f"greatest({', '.join('s_' + l for l in langs)})"
    pred = "CASE " + " ".join(
        f"WHEN s_{l} = best THEN '{l}'" for l in langs) + " END"
    sums = ", ".join(f"CAST({e} AS INT) AS s_{l}"
                     for l, e in score.items())
    return f"""
WITH sig AS (
  SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens, {sums},
         md5(regexp_replace({_FOLD_LOWER_SQL}, '\\s+', ' ', 'g'))
           AS fingerprint
  FROM (SELECT doc_id, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents)),
scored AS (SELECT *, {best} AS best FROM sig)
SELECT fingerprint,
       min(doc_id) AS doc_id,
       arg_min({pred}, doc_id) AS pred_lang,
       arg_min(n_tokens, doc_id) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_dups
FROM scored WHERE n_tokens >= 8 AND best >= 2
GROUP BY fingerprint
"""


@register("docs_curation_pipeline", _curation_sql())
def docs_curation_pipeline(spark, sf_dir):
    """End-to-end curation pass: quality gate (token count) + language
    confidence gate (>= 2 marker hits) + exact dedup keeping the lowest
    doc_id — composed from ONE scan of documents via
    ``with_curation_signals`` (single select; no joins), then one
    fingerprint-keyed aggregation.  The shape of a real training-data
    filter job: at 100 TB this is scan -> narrow map -> one shuffle."""
    sig = TX.with_curation_signals(t(spark, sf_dir, "documents"))
    gated = sig.filter((F.col("n_tokens") >= 8) &
                       (F.col("best_score") >= 2))
    return (gated.groupBy("fingerprint")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.min_by("pred_lang", "doc_id").alias("pred_lang"),
                 F.min_by("n_tokens", "doc_id").alias("n_tokens"),
                 F.count("*").cast("bigint").alias("n_dups")))


# ------------------------------------ deterministic corpus shuffle
@register("docs_deterministic_shuffle", """
SELECT doc_id,
       CAST(row_number() OVER (
         ORDER BY md5('42|' || CAST(doc_id AS VARCHAR))
                  || '|' || lpad(CAST(doc_id AS VARCHAR), 12, '0'))
            - 1 AS BIGINT) AS shuffle_pos
FROM documents
""")
def docs_deterministic_shuffle(spark, sf_dir):
    """Deterministic global shuffle of the corpus — the 'randomize
    example order before training' pass.  Position = rank in md5(seed |
    doc_id) order (seeded, reproducible, engine-portable; doc_id
    tie-break makes even a hash collision deterministic).  The rank is
    computed with the grouped two-phase prefix sum, NOT a global
    row_number window: range-partition on the hash key, per-partition
    cumsum, broadcast partition offsets — no single-partition stage at
    any scale.  The oracle replays it as the (small-data) global
    window."""
    from ..functions.ids import exclusive_prefix_sum
    d = (t(spark, sf_dir, "documents")
         .select("doc_id",
                 F.concat(F.md5(F.concat(F.lit("42|"),
                                         F.col("doc_id").cast("string"))),
                          F.lit("|"),
                          F.lpad(F.col("doc_id").cast("string"), 12, "0"))
                 .alias("k"),
                 F.lit(1).alias("one")))
    ranked = exclusive_prefix_sum(d, "k", "one", out_col="shuffle_pos")
    return ranked.select("doc_id", "shuffle_pos")


# ------------------------------------- per-class embedding centroids
@register("embedding_label_centroids", """
WITH ex AS (
  SELECT label, CAST(u.s.i AS INT) AS dim,
         CAST(floor(CAST(u.s.v AS DOUBLE) * 1000000000 + 0.5) AS BIGINT)
           AS nano
  FROM embeddings e,
       unnest(list_transform(generate_series(1, len(e.embedding)),
              i -> {'i': i, 'v': e.embedding[i]})) AS u(s)
  WHERE len(list_filter(e.embedding, x -> x IS NULL OR
            NOT isfinite(CAST(x AS DOUBLE)))) = 0
), g AS (
  SELECT label, dim, sum(nano) AS s_nano, count(*) AS n
  FROM ex GROUP BY 1, 2
)
SELECT label, dim,
       CAST(((2 * s_nano + n * 1000000)
             - ((((2 * s_nano + n * 1000000) % (2 * n * 1000000))
                 + (2 * n * 1000000)) % (2 * n * 1000000)))
            // (2 * n * 1000000) AS BIGINT) AS centroid_milli,
       CAST(n AS BIGINT) AS n_vecs
FROM g
""")
def embedding_label_centroids(spark, sf_dir):
    """Per-label mean embedding — the centroid-update step of k-means /
    IVF coarse-quantizer training, as one posexplode + partial-agg'd
    groupBy.  (label, dim) keys spread every vector's components across
    the cluster, so a hot label cannot pin a partition the way a
    per-label collect would.

    Determinism (the round-2/3 driver red row): a double ``avg``
    accumulates in shuffle-fetch order, and even an order-independent
    decimal sum rendered through ``round(CAST(.. AS DOUBLE)/n, 3)``
    leaves a rounded-double channel where two engine BUILDS can round a
    half-point differently.  So the output contains NO doubles at all:

    * each float32 component becomes exact integer nano-units via
      ``floor(v * 1e9 + 0.5)`` — float32->double cast, one IEEE-754
      multiply, one IEEE add, one floor: every step is exactly
      specified by IEEE 754, bit-identical on any compliant engine;
    * the nano sums are plain BIGINT — order-independent, exact
      (|sum| < ~1e9 * n; overflows only past ~1e9 high-magnitude rows
      per (label,dim) group, far beyond the checked scale — at that
      scale switch the accumulator to DECIMAL(38,0));
    * the mean in milli-units is round-half-up(1000 * s/n) done as pure
      integer floor-division:  floor((2s + n*1e6) / (2n*1e6)), where
      the floor is implemented engine-portably by subtracting the
      non-negative residue ``((x % d) + d) % d`` before dividing, so
      the division is exact and truncation direction is irrelevant.

    Result columns are BIGINT/INT only — integers hash identically on
    any build."""
    em = t(spark, sf_dir, "embeddings")
    nano = F.floor(F.col("v").cast("double") * F.lit(1000000000.0)
                   + F.lit(0.5)).cast("long")
    # as_vec: an ill-formed (NaN/Inf-component) vector explodes to zero
    # rows, exactly like a NULL embedding — otherwise the nano cast
    # ANSI-errors on one engine and CAST(NaN AS BIGINT)-errors on the
    # other (tools/null_parity_sweep.py, edge profile)
    g = (em.select("label",
                   F.posexplode(S.as_vec("embedding")).alias("pos", "v"))
         .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
         .agg(F.sum(nano).alias("s_nano"),
              F.count("*").alias("n")))
    return (g.withColumn("num", F.expr("2L * s_nano + n * 1000000L"))
            .withColumn("den", F.expr("2L * n * 1000000L"))
            # num - pmod(num, den) is divisible by den, so the integer
            # `div` is exact and truncation direction is irrelevant.
            .select("label", "dim",
                    F.expr("(num - pmod(num, den)) div den")
                    .cast("long").alias("centroid_milli"),
                    F.col("n").cast("long").alias("n_vecs")))


# ------------------------------------ blocked fuzzy (edit-distance) match
@register("parts_fuzzy_name_pairs", """
WITH names AS (
  SELECT DISTINCT p_name,
         len(p_name) AS ln, substr(p_name, 1, 1) AS blk
  FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM names a JOIN names b
  ON a.blk = b.blk AND abs(a.ln - b.ln) <= 3 AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
""")
def parts_fuzzy_name_pairs(spark, sf_dir):
    """Fuzzy matching, the scalable way: dedupe to distinct names, then a
    BLOCKED self-join (same first letter, length within 3 — cheap
    necessary conditions for edit distance <= 3) and the expensive
    levenshtein verify only inside blocks.  The all-pairs formulation is
    O(n^2) in distinct names; blocking bounds each key's fan-out, and a
    skewed block would be salted (functions/skew.py).  Blocking misses
    cross-block pairs by design — the standard recall trade, replayed
    identically by the oracle.  Threshold 3 chosen so the generated part
    names actually produce matches (16 pairs at every shipped SF) —
    tests/test_round7_ops.py additionally drives the value path on
    synthetic near-duplicates, covering hit / cross-block miss /
    length-window miss."""
    names = (t(spark, sf_dir, "part").select("p_name").distinct()
             .select("p_name", F.length("p_name").alias("ln"),
                     F.substring("p_name", 1, 1).alias("blk")))
    a, b = names.alias("a"), names.alias("b")
    lev = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (a.join(b, (F.col("a.blk") == F.col("b.blk")) &
                   (F.abs(F.col("a.ln") - F.col("b.ln")) <= 3) &
                   (F.col("a.p_name") < F.col("b.p_name")))
            .filter(lev <= 3)
            .select(F.col("a.p_name").alias("name_a"),
                    F.col("b.p_name").alias("name_b"),
                    lev.cast("int").alias("dist")))


# --------------------------------------- benchmark contamination check
@register("docs_contamination_check", """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 0)),
           i -> array_to_string(tk[i:i+2], ' '))) AS shs
  FROM tk),
corpus_sh AS (
  SELECT doc_id, unnest(shs) AS s FROM sh WHERE doc_id % 97 <> 0),
bench_sh AS (
  SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 97 = 0)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(b.s) AS BIGINT) AS n_contaminated,
       CAST(round(CAST(CAST(count(b.s) AS DOUBLE) / count(*)
            AS DECIMAL(27,9)), 6) AS DOUBLE) AS contam_rate
FROM corpus_sh c LEFT JOIN bench_sh b ON c.s = b.s
GROUP BY c.doc_id
HAVING count(b.s) > 0
""")
def docs_contamination_check(spark, sf_dir):
    """Train/benchmark decontamination: flag corpus documents sharing any
    5-token shingle with a held-out benchmark slice (doc_id % 97 == 0
    stands in for the benchmark set).  The benchmark's distinct-shingle
    table is tiny relative to the corpus, so the overlap probe is a
    BROADCAST join against the exploded corpus shingles — the corpus
    (the 100 TB side) is never shuffled; the per-doc aggregation that
    follows is partial+final on doc_id."""
    d = t(spark, sf_dir, "documents")
    tk = d.select("doc_id", TX.tokens_col(F.col("text")).alias("tk"))
    n = F.size("tk")
    grams = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.array_join(F.slice("tk", i, 3), " "))
    sh = tk.select(
        "doc_id",
        F.array_distinct(F.when(n > 2, grams)
                         .otherwise(F.array().cast("array<string>")))
        .alias("shs"))
    corpus = (sh.filter(F.col("doc_id") % 97 != 0)
              .select("doc_id", F.explode("shs").alias("s")))
    bench = (sh.filter(F.col("doc_id") % 97 == 0)
             .select(F.explode("shs").alias("bs")).distinct())
    hit = F.count("bs")
    # contam_rate routes through DECIMAL(27,9) before round(., 6):
    # count ratios land on binary-inexact 7-decimal ties where the
    # engines' DOUBLE rounds split (round-15 tie audit, text_quality
    # class — same convention)
    return (corpus.join(F.broadcast(bench), corpus.s == bench.bs, "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shingles"),
                 hit.alias("n_contaminated"),
                 F.round((hit.cast("double") / F.count("*"))
                         .cast("decimal(27,9)"), 6)
                 .cast("double").alias("contam_rate"))
            .filter(F.col("n_contaminated") > 0))


@register("docs_segment_dedup", """
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
), base AS (
  SELECT id, tk, CAST(ceil(len(tk) / 16.0) AS BIGINT) AS n_segs
  FROM toks WHERE len(tk) > 0
), segs AS (
  SELECT id, n_segs, i - 1 AS seg_idx,
         array_to_string(tk[(i-1)*16+1 : i*16], ' ') AS seg
  FROM base, unnest(generate_series(1, CAST(n_segs AS INT))) AS u(i)
), keep AS (
  SELECT id, n_segs, seg_idx, seg,
         row_number() OVER (PARTITION BY seg ORDER BY id, seg_idx) AS rn
  FROM segs
)
SELECT id, max(n_segs) AS n_segs,
       CAST(count(*) AS BIGINT) AS n_kept,
       md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS clean_fp
FROM keep WHERE rn = 1
GROUP BY id
""")
def docs_segment_dedup(spark, sf_dir):
    """Corpus-wide fixed-window segment dedup + ordered reassembly
    (Dolma/CCNet paragraph-dedup shape) — see
    ``operators.dedup.segment_dedup`` for the distribution argument."""
    return D.segment_dedup(t(spark, sf_dir, "documents"))


@register("docs_importance_sample", """
SELECT doc_id, lang, n_chars
FROM documents
WHERE CAST('0x' || substr(md5('w' || CAST(doc_id AS VARCHAR)), 1, 8)
           AS BIGINT) % 1000
      < least(1000, CAST(floor(n_chars * 1000.0 / 512) AS BIGINT))
""")
def docs_importance_sample(spark, sf_dir):
    """Probability-proportional-to-size sampling with a deterministic
    content-stable hash standing in for the RNG: accept doc iff
    hash-bucket(doc_id)/1000 < min(1, n_chars/512).  Complement of the
    stratified Bernoulli sampler — per-row weights instead of per-
    stratum rates.  The weight->integer-threshold comparison is
    floor(n*1000/2^9) — a power-of-two divide, exact in binary on both
    engines (a float->int CAST here would round-to-nearest in DuckDB
    but truncate in Spark); a narrow filter fused into the scan (no
    shuffle, reproducible across engines and reruns)."""
    d = t(spark, sf_dir, "documents")
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit("w"), F.col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long") % 1000)
    thresh = F.least(F.lit(1000).cast("bigint"),
                     F.floor(F.col("n_chars") * 1000.0 / 512)
                     .cast("bigint"))
    return d.filter(bucket < thresh).select("doc_id", "lang", "n_chars")


@register("events_rollup_cascade", """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(CASE WHEN isfinite(value) THEN value END
                           AS DECIMAL(27,9))), 2) AS DOUBLE) AS total_value,
       CAST(round(min(CAST(CASE WHEN isfinite(value) THEN value END
                           AS DECIMAL(27,9))), 4) AS DOUBLE) AS min_value,
       CAST(round(max(CAST(CASE WHEN isfinite(value) THEN value END
                           AS DECIMAL(27,9))), 4) AS DOUBLE) AS max_value
FROM events
GROUP BY 1, 2
""")
def events_rollup_cascade(spark, sf_dir):
    """Hypertable continuous-aggregate pattern: day-level rollups
    computed FROM hour-level partials (count-of-counts, sum-of-sums,
    min-of-mins, max-of-maxes), not from raw rows.  The oracle
    aggregates raw->day directly, so a pass proves the cascade is
    lossless for these algebraic aggregates.  At scale the hour layer
    is the materialized view every dashboard shares; day/week/month
    re-aggregate ~24x fewer rows instead of re-scanning the fact
    table, and each layer is an ordinary shuffle agg (no new
    machinery).  Rounding happens ONLY at the day layer — rounding the
    hour partials first would break sum re-aggregation."""
    ev = t(spark, sf_dir, "events")
    # ALL value aggregates ride exact finite-only DECIMALs and every
    # round happens on the DECIMAL (round-14 fuzz seed 131 for the
    # sum; round-15 tie audit for min/max): double partials re-summed
    # at the day layer are accumulation-order nondeterministic, and
    # rounding a DOUBLE at any scale diverges between the engines at
    # true decimal halves — the r14 claim that "min/max at 4 are
    # identity rounds of 4-decimal values" held only under the
    # 4-decimal data assumption, which a dirty corpus void.  Non-finite
    # values are excluded identically on both sides (no exact-decimal
    # form).
    vdec = finite_or_null("value").cast("decimal(27,9)")
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"),
                         "event_type")
              .agg(F.count("*").alias("n"),
                   F.sum(vdec).alias("s"),
                   F.min(vdec).alias("mn"),
                   F.max(vdec).alias("mx")))
    return (hourly.groupBy(F.date_trunc("day", "hour").alias("day"),
                           "event_type")
            .agg(F.sum("n").cast("bigint").alias("n_events"),
                 F.round(F.sum("s"), 2).cast("double")
                 .alias("total_value"),
                 F.round(F.min("mn"), 4).cast("double")
                 .alias("min_value"),
                 F.round(F.max("mx"), 4).cast("double")
                 .alias("max_value")))


@register("events_lead_lag_deltas", """
WITH e AS (
  SELECT *, CAST(CASE WHEN isfinite(value) THEN value END
                 AS DECIMAL(27,9)) AS vdec
  FROM events WHERE ts IS NOT NULL)
SELECT event_id, user_id,
       CAST(round(vdec - lag(vdec) OVER w, 4) AS DOUBLE) AS delta_prev,
       lead(event_type) OVER w AS next_type,
       first_value(event_type) OVER w AS first_type
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def events_lead_lag_deltas(spark, sf_dir):
    """Offset window functions (lag / lead / first_value) over the
    per-user event timeline — ONE window spec shared by all three, so
    Spark sorts each user partition once; partitioning by user keeps
    every partition small and the sort local (no global order).

    NULL-ts events are excluded on both sides: an event without a
    timestamp has no position on the timeline, and the engines would
    otherwise place it at OPPOSITE ends of the user's ordered stream
    (Spark asc sorts NULLs first, DuckDB last), shifting every
    lead/lag neighbor (round-12 dirty-corpus fuzz).

    The delta is an exact finite-only DECIMAL(27,9) difference,
    rounded as a DECIMAL and cast to double after (seed-131
    convention; round-15 tie audit: two 5-decimal-capable values whose
    difference lands on a true scale-4 half split the engines' DOUBLE
    rounds).  Non-finite values have no exact-decimal form -> NULL
    delta on both sides."""
    from pyspark.sql import Window as W
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    vdec = finite_or_null("value").cast("decimal(27,9)")
    return ev.select(
        "event_id", "user_id",
        F.round(vdec - F.lag(vdec).over(w), 4)
        .cast("double").alias("delta_prev"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_type").over(w).alias("first_type"))


# ------------------------------------ product-quantization codes (ANN)
def _pq_codes_sql(n_sub: int = 8, sub_dim: int = 8,
                  n_centroids: int = 4) -> str:
    bits = max(1, (n_centroids - 1).bit_length())
    dists = ", ".join(
        f"list_sum(list_transform(generate_series(1, {sub_dim}), "
        f"j -> (ve[{s * sub_dim}+j] - cv[{s * sub_dim}+j])"
        f" * (ve[{s * sub_dim}+j] - cv[{s * sub_dim}+j]))) AS d{s}"
        for s in range(n_sub))
    ranks = ", ".join(
        f"row_number() OVER (PARTITION BY id ORDER BY d{s}, cid) AS r{s}"
        for s in range(n_sub))
    # pack the codebook entry's RANK (crank), never the raw cid — the
    # same id-space-safe field packing as the Spark operator
    packed = " + ".join(
        f"(max(CASE WHEN r{s} = 1 THEN crank END) * {1 << (bits * s)})"
        for s in range(n_sub))
    return f"""
WITH v AS (SELECT vec_id AS id,
                  {_DUCK_VEC} AS ve
           FROM embeddings),
c AS (SELECT cid, cv, rn - 1 AS crank FROM (SELECT id AS cid, ve AS cv, row_number() OVER (ORDER BY id) AS rn FROM v) WHERE rn <= {n_centroids}),
d AS (SELECT v.id, c.cid, c.crank, {dists} FROM v, c),
r AS (SELECT id, cid, crank, {ranks} FROM d)
SELECT id, CAST({packed} AS BIGINT) AS code
FROM r GROUP BY id
"""


@register("embedding_pq_codes", _pq_codes_sql())
def embedding_pq_codes(spark, sf_dir):
    """Product-quantization code assignment (the memory side of
    billion-scale ANN: 64 float32 dims -> 16 bits here).  See
    operators/similarity.py::pq_codes for the scale shape; the oracle
    replays the identical deterministic codebook and per-sub-space
    argmin (ties -> lowest centroid id)."""
    return S.pq_codes(t(spark, sf_dir, "embeddings"))


# -------------------------------- hybrid retrieval fusion (BM25 + dense)
_RRF_K = 60
_RRF_TOPN = 20


def _hybrid_rrf_sql() -> str:
    # sparse arm: the docs_bm25_search CTE verbatim; dense arm: the
    # ann_cosine_topk CTE with doc/vec ids unified; fuse with RRF.
    terms = "','".join(_BM25_TERMS)
    return f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents),
stats AS (SELECT count(*) AS n_docs,
                 avg(len(tk)) AS avg_len FROM tok),
hits AS (
  SELECT doc_id, len(tk) AS doc_len, term,
         len(list_filter(tk, x -> x = term)) AS tf
  FROM tok, unnest(['{terms}']) AS q(term)
  WHERE list_contains(tk, term)),
df AS (SELECT term, count(*) AS df FROM hits GROUP BY term),
bm25 AS (
  SELECT h.doc_id,
         round(sum(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * h.tf * ({_BM25_K1} + 1.0)
                   / (h.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                      + {_BM25_B} * h.doc_len / s.avg_len))), 4) AS score
  FROM hits h JOIN df d USING (term) CROSS JOIN stats s
  GROUP BY h.doc_id),
sparse AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
  FROM bm25 ORDER BY r LIMIT {_RRF_TOPN}),
q AS (SELECT {_DUCK_VEC} AS qv
      FROM embeddings WHERE vec_id = {_DUCK_QVEC}),
cosd AS (
  SELECT vec_id AS doc_id,
         {_DUCK_COS.format(
             a=_DUCK_VEC,
             b="qv")} AS cos
  FROM embeddings, q),
dense AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r
  FROM cosd ORDER BY r LIMIT {_RRF_TOPN}),
fused AS (
  SELECT coalesce(s.doc_id, de.doc_id) AS doc_id,
         coalesce(1.0 / ({_RRF_K} + s.r), 0.0)
           + coalesce(1.0 / ({_RRF_K} + de.r), 0.0) AS rrf
  FROM sparse s FULL OUTER JOIN dense de ON s.doc_id = de.doc_id)
SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank,
       doc_id
FROM fused ORDER BY rank LIMIT 10
"""


@register("docs_hybrid_rrf", _hybrid_rrf_sql())
def docs_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval with Reciprocal Rank Fusion (the standard
    lexical+semantic fusion): BM25 top-20 and dense-cosine top-20
    (query = the lowest-id embedding, vec_id keyed to doc_id) are fused
    with
    rrf = sum(1 / (60 + rank)) over the arms a document appears in,
    re-ranked, top-10 emitted.

    Determinism: both arms' ranks are integers with id tie-breaks, and
    the fusion arithmetic (1/(60+r) sums) is the same IEEE double ops
    in both engines — no rounding needed.  Scale shape: each arm is the
    already-audited retrieval plan (term-filtered explode / one corpus
    scan with TakeOrderedAndProject); the fusion itself joins two
    20-row frames — negligible at any corpus size."""
    from pyspark.sql import Window
    sparse = (_bm25_scored(spark, sf_dir)
              .orderBy(F.desc("score"), "doc_id").limit(_RRF_TOPN)
              .withColumn("r", F.row_number().over(
                  Window.orderBy(F.desc("score"), "doc_id")))
              .select("doc_id", "r"))
    emb = t(spark, sf_dir, "embeddings")
    dense = (S.cosine_topk(emb, _query_vec(emb), k=_RRF_TOPN)
             .select(F.col("vec_id").alias("doc_id"),
                     F.col("rank").alias("r")))
    s, d = sparse.alias("s"), dense.alias("d")
    fused = (s.join(d, F.col("s.doc_id") == F.col("d.doc_id"), "full_outer")
             .select(
                 F.coalesce(F.col("s.doc_id"), F.col("d.doc_id"))
                 .alias("doc_id"),
                 (F.coalesce(1.0 / (_RRF_K + F.col("s.r")), F.lit(0.0))
                  + F.coalesce(1.0 / (_RRF_K + F.col("d.r")), F.lit(0.0)))
                 .alias("rrf")))
    topw = Window.orderBy(F.desc("rrf"), "doc_id")
    return (fused.orderBy(F.desc("rrf"), "doc_id").limit(10)
            .withColumn("rank", F.row_number().over(topw))
            .select("rank", "doc_id"))


# ------------------------------- corpus unigram-LM quality score
@register("docs_unigram_logprob", """
WITH tok AS MATERIALIZED (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS tok
  FROM documents),
freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
total AS (SELECT sum(cnt) AS n_total FROM freq)
SELECT t.doc_id,
       CAST(count(*) AS INT) AS n_tokens,
       round(CAST(sum(CAST(ln(f.cnt / tt.n_total) AS DECIMAL(27,18)))
                  AS DOUBLE) / count(*), 4) AS lp_per_token
FROM tok t JOIN freq f USING (tok) CROSS JOIN total tt
GROUP BY t.doc_id
""")
def docs_unigram_logprob(spark, sf_dir):
    """Corpus-unigram-LM quality score (the cheap KenLM-perplexity
    stand-in real pipelines gate on): every document's mean token
    log-probability under the corpus' own unigram distribution.

    Shape: one tokenize/explode scan feeds BOTH the frequency table and
    the scoring join (co-partitioned on the token key — boilerplate
    token skew splits under AQE), the grand total is a 1-row broadcast,
    and the per-doc mean is an EXACT DECIMAL(27,18) sum of the ln
    values (the order-independence lesson from
    embedding_label_centroids: a double sum of ~100 lnprobs accumulated
    in shuffle order could flip round(_, 4) on a boundary doc), rounded
    only at the end."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id",
                   F.explode(TX.tokens_col(F.col("text"))).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("n_total"))
    lnp = F.log(F.col("cnt") / F.col("n_total"))
    return (tok.join(freq, "tok")
            .crossJoin(F.broadcast(total))
            .groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("n_tokens"),
                 F.round(F.sum(lnp.cast("decimal(27,18)")).cast("double")
                         / F.count("*"), 4).alias("lp_per_token")))
