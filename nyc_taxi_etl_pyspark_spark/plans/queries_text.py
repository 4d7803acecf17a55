"""Text-analysis / dedup / similarity-search queries (SURVEY.md §2.12 —
the LLM-data-pipeline operator set, first-class in this engine).

Oracle notes:
- Jaccard values are ratios of integer set sizes → bit-identical across
  engines; rounding is belt-and-braces.
- Cosine values fold floats in element order in both engines (Spark
  ``aggregate`` HOF vs DuckDB ``list_cosine_similarity``); rounded to 4
  before any threshold/rank so the cut is reproducible.
- The production MinHash/SimHash/LSH tiers depend on Spark's
  ``xxhash64`` and are rows-only by design (no cross-engine hash oracle
  exists for that family) — but each algorithm has an ORACLE-CHECKED
  md5-hash twin (``q_dedup_simhash_md5``, ``q_dedup_minhash_md5``,
  round 4) proving the computation itself against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_etl_pyspark_spark.functions.text import (
    quality_gate,
    STOPWORDS,
    fingerprint_md5,
    tokens_col,
)
from nyc_taxi_etl_pyspark_spark.operators.dedup import (
    connected_components,
    dedup_exact,
    dedup_ngram_jaccard,
    dedup_survivors,
    minhash_lsh_dedup,
    simhash_dedup,
)
from nyc_taxi_etl_pyspark_spark.operators.similarity import (
    approx_similarity_join_lsh,
    brute_force_topk_cosine,
    cosine_pairs_within_group,
    ivf_topk_cosine,
    knn_within_group,
    pq_topk_cosine,
)
from nyc_taxi_etl_pyspark_spark.functions.rounding import stable_round
from nyc_taxi_etl_pyspark_spark.plans.registry import query
from nyc_taxi_etl_pyspark_spark.sources.tables import load_table

_STOPWORD_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


@query(
    "q_array_explode",
    oracle="""
    SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def q_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split + explode → corpus term frequencies (SURVEY §2.8/§2.12)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@query(
    "q_text_tokenstats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq_tokens,
           round(length(replace(text, ' ', ''))::DOUBLE
                 / len(string_split(text, ' '))::DOUBLE + 1e-9, 4) AS avg_token_len,
           round(len(list_filter(string_split(text, ' '), t -> t IN {_STOPWORD_SQL}))::DOUBLE
                 / len(string_split(text, ' '))::DOUBLE + 1e-9, 4) AS stopword_ratio,
           round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                 / len(string_split(text, ' '))::DOUBLE + 1e-9, 4) AS uniq_ratio
    FROM documents
    """,
)
def q_text_tokenstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics / quality signals: token counts,
    average token length, stopword ratio, unique-token ratio — the
    length/punct/stopword quality-scoring features of a training-data
    pipeline (SURVEY §2.12 text analysis)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks).cast("double")
    n_uniq = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    char_total = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        stable_round(char_total / n, 4).alias("avg_token_len"),
        stable_round(n_stop.cast("double") / n, 4).alias("stopword_ratio"),
        stable_round(n_uniq.cast("double") / n, 4).alias("uniq_ratio"),
    )


@query(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_re_tokens,
           CAST(ceil(length(text) / 4.0) AS INT) AS approx_bpe_tokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, regex word tokens,
    and the chars/4 BPE-budget heuristic used for LLM context sizing."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.regexp_count("text", F.lit("[a-z0-9]+")).cast("int").alias("n_re_tokens"),
        F.ceil(F.length("text") / 4.0).cast("int").alias("approx_bpe_tokens"),
    )


@query(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(string_split(lower(text), ' '), ' ')) AS fingerprint,
           md5(array_to_string((string_split(lower(text), ' '))[1:8], ' ')) AS prefix_fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprints (md5 over normalized text and
    over the 8-token prefix) — exact-dedup & provenance keys."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    prefix = F.concat_ws(" ", F.slice(toks, 1, 8))
    return d.select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fingerprint"),
        F.md5(prefix.cast("binary")).alias("prefix_fingerprint"),
    )


@query(
    "q_lang_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(n_chars) + 1e-9, 4) AS avg_chars,
           count(DISTINCT source) AS n_sources,
           round(avg(len(string_split(text, ' '))) + 1e-9, 4) AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (text-analysis rollup)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        stable_round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
        stable_round(F.avg(F.size(F.split("text", " "))), 4).alias("avg_tokens"),
    )


@query(
    "q_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact key-based dedup keeping the lowest doc_id per (lang, source)
    — deterministic row_number survivor selection, not ``dropDuplicates``
    (whose survivor is scan-order-dependent)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_exact(d, keys=["lang", "source"], order_by=["doc_id"]).select(
        "doc_id", "lang", "source"
    )


@query(
    "q_dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct([toks[i] || ' ' || toks[i+1]
                            for i in generate_series(1, len(toks)-1)]) AS shingles
      FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS toks FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.source AS block,
           round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE + 1e-9,
                 4) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                / len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE + 1e-9,
                4) >= 0.1
    """,
    tier="oracle",  # block-quadratic exact verify (5.67× top-decade ratio
    # at sf1, SCALE_PROBE_r06) — proves the banded-LSH production chain
    # lossless; the headline near-dup path is q_dedup_minhash_survivors
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by exact 2-gram-shingle Jaccard within a
    source block. Jaccard here is a ratio of integer set sizes, so both
    engines compute bit-identical doubles."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_ngram_jaccard(
        d, id_col="doc_id", text_col="text", block_col="source", shingle_n=2, threshold=0.1
    )


_JACCARD_PAIRS_SQL = """
    WITH RECURSIVE sh AS (
      SELECT doc_id, source,
             list_distinct([toks[i] || ' ' || toks[i+1]
                            for i in generate_series(1, len(toks)-1)]) AS shingles
      FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS toks FROM documents)
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                  / len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE + 1e-9,
                  4) >= 0.1
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
      SELECT node, min(lbl) AS component FROM reach GROUP BY node
    )
"""


@query(
    "q_dedup_clusters",
    oracle=_JACCARD_PAIRS_SQL
    + "SELECT node AS doc_id, component FROM comp",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the 2-gram-Jaccard
    near-dup pairs (same edge set as q_dedup_ngram_jaccard). Each
    clustered doc labeled with the min doc_id of its component —
    iterative min-label propagation on Spark, recursive CTE in the
    oracle, identical fixpoint by construction."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup_ngram_jaccard(
        d, id_col="doc_id", text_col="text", block_col="source", shingle_n=2, threshold=0.1
    )
    return connected_components(
        pairs, src="id_a", dst="id_b", pre_deduped=True
    ).select(
        F.col("node").alias("doc_id"), "component"
    )


@query(
    "q_dedup_survivors",
    oracle=_JACCARD_PAIRS_SQL
    + """
    SELECT d.doc_id, d.source, d.lang
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    WHERE c.component IS NULL OR c.component = d.doc_id
    """,
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: one canonical doc (min doc_id) per
    near-dup cluster plus every never-paired doc — the end-to-end output
    of the pair→cluster→survivor dedup pipeline."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup_ngram_jaccard(
        d, id_col="doc_id", text_col="text", block_col="source", shingle_n=2, threshold=0.1
    )
    return dedup_survivors(
        d, pairs, id_col="doc_id", pre_deduped=True
    ).select("doc_id", "source", "lang")


@query("q_dedup_minhash", oracle=None)  # xxhash64-based => rows-only
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (32 slots, 8 bands) — the scale
    path that replaces all-pairs Jaccard at 100 TB, with signatures from
    ONE-PERMUTATION hashing (one xxhash64 per shingle scattered over 32
    buckets, densified; operators/dedup.py::minhash_signatures_oph) —
    32× less hash CPU than the k-independent-families scheme at identical
    banding semantics. Returns candidate pairs with shared-bucket counts;
    rows-only (hash family is Spark-specific)."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_dedup(
        d, id_col="doc_id", text_col="text", num_hashes=32, bands=8,
        shingle_n=2, scheme="oph",
    )


@query("q_dedup_simhash", oracle=None)  # xxhash64-based => rows-only
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: 64-bit fingerprints, prefix-blocked,
    Hamming ≤ 16 within blocks. Rows-only (engine-specific hash)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_dedup(
        d, id_col="doc_id", text_col="text", hamming_threshold=16, prefix_bits=16
    )


def _query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed ANN query vector: embedding of vec_id=0 (1 row)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_embedding")
    )


@query(
    "q_topk_cosine",
    oracle="""
    SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.query_embedding AS DOUBLE[])) + 1e-9, 4)
             AS cosine_sim
    FROM embeddings e,
         (SELECT embedding AS query_embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for the vec_id=0 query vector —
    the ANN correctness baseline (SURVEY §2.12 similarity search).
    JVM-side higher-order functions; plan is scan + TakeOrderedAndProject
    (no shuffle of the vector table)."""
    e = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk_cosine(
        e, _query_vec(spark, sf_dir), id_col="vec_id", vec_col="embedding", k=10
    )


@query(
    "q_dedup_embedding",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS block,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])) + 1e-9, 4) AS cosine_sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])) + 1e-9, 4) >= 0.3
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within a label block (threshold
    0.3 — the fixture vectors are near-orthogonal, max observed intra-label
    cosine ≈ 0.45)."""
    e = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_within_group(
        e, id_col="vec_id", vec_col="embedding", block_col="label", threshold=0.3
    )


@query(
    "q_dedup_semantic",
    oracle="""
    WITH RECURSIVE anchors AS (
      SELECT list(r ORDER BY c) AS a FROM (
        SELECT c,
               [list_reduce(list_transform(
                    [substr(md5('cell|' || c || '|' || i), j, 1)
                     for j in generate_series(1, 8)],
                  ch -> CAST(position(ch IN '0123456789abcdef') AS BIGINT) - 1),
                  (x, y) -> x * 16 + y) / 2147483648.0 - 1
                for i in generate_series(1, 64)] AS r
        FROM (SELECT unnest(generate_series(0, 7)) AS c))
    ),
    e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cells AS (
      SELECT vec_id, label, v,
             list_position(dists, list_min(dists)) - 1 AS cell
      FROM (
        SELECT vec_id, label, v,
               list_transform(an.a, r ->
                 list_reduce(list_transform(generate_series(1, 64),
                     i -> (v[i] - r[i]) * (v[i] - r[i])),
                   (x, y) -> x + y)) AS dists
        FROM e, anchors an)
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v) + 1e-9, 4) >= 0.3
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e2.dst, r.lbl FROM reach r JOIN edges e2 ON e2.src = r.node
    ),
    comp AS (
      SELECT node, min(lbl) AS component FROM reach GROUP BY node
    )
    SELECT c.vec_id, c.label, c.cell
    FROM cells c LEFT JOIN comp ON c.vec_id = comp.node
    WHERE comp.component IS NULL OR comp.component = c.vec_id
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup, the SemDeDup composition (round-12 verdict #7):
    partition the embedding space into 8 md5-derived Voronoi cells
    (``semantic_cells`` — map-only argmin over cross-engine-derivable
    anchors), call within-cell pairs with cosine ≥ 0.3 duplicates,
    resolve through the standard chain (star-contraction components →
    min-id survivors). The DuckDB oracle replays EVERY stage — anchor
    derivation, the left-to-right squared-L2 folds, first-min cell
    tie-break, within-cell pair generation, the rounded cosine gate,
    and the component fixpoint (recursive CTE) — so the hash match
    proves the whole pipeline. Pair space is Σ|cell|² ≈ N²/n_cells,
    never all-pairs; at LAION scale n_cells grows to ~10⁵ (see
    operators/dedup.py::semantic_dedup's scale note)."""
    from nyc_taxi_etl_pyspark_spark.operators.dedup import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        e, id_col="vec_id", vec_col="embedding", dim=64,
        n_cells=8, threshold=0.3,
    ).select("vec_id", "label", "cell")


@query(
    "q_ann_ivf_md5",
    oracle="""
    WITH anchors AS (
      SELECT list(r ORDER BY c) AS a FROM (
        SELECT c,
               [list_reduce(list_transform(
                    [substr(md5('cell|' || c || '|' || i), j, 1)
                     for j in generate_series(1, 8)],
                  ch -> CAST(position(ch IN '0123456789abcdef') AS BIGINT) - 1),
                  (x, y) -> x * 16 + y) / 2147483648.0 - 1
                for i in generate_series(1, 64)] AS r
        FROM (SELECT unnest(generate_series(0, 7)) AS c))
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id = 0),
    cells AS (
      SELECT vec_id, v, list_position(dists, list_min(dists)) - 1 AS cell
      FROM (
        SELECT vec_id, v,
               list_transform(an.a, r ->
                 list_reduce(list_transform(generate_series(1, 64),
                     i -> (v[i] - r[i]) * (v[i] - r[i])),
                   (x, y) -> x + y)) AS dists
        FROM e, anchors an)
    ),
    qd AS (
      SELECT list_transform(an.a, r ->
               list_reduce(list_transform(generate_series(1, 64),
                   i -> (qv[i] - r[i]) * (qv[i] - r[i])),
                 (x, y) -> x + y)) AS qdists
      FROM q, anchors an
    )
    SELECT c.vec_id,
           round(list_cosine_similarity(c.v, q.qv) + 1e-9, 4) AS cosine_sim
    FROM cells c, q, qd
    WHERE qd.qdists[c.cell + 1] <= list_sort(qd.qdists)[2]
    ORDER BY cosine_sim DESC, c.vec_id
    LIMIT 10
    """,
)
def q_ann_ivf_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first ORACLE-CHECKED ANN tier (round 13): IVF top-10 cosine
    probing 2 of 8 md5-derived Voronoi cells
    (``operators/similarity.py::ivf_md5_topk_cosine``). Every other
    ANN tier quantizes with engine-fitted k-means and so carries
    recall floors + replay tests instead of hash proofs; here the
    coarse quantizer is the cross-engine ``semantic_cells`` anchor
    family, so DuckDB replays the WHOLE probe — per-vector cell
    argmin, query-to-cell distance ranking, the n_probe keep
    predicate, and the exact re-rank — and the value hash must match.
    No driver collect: the probe ranking is a per-row expression over
    plan-literal anchors behind a 1-row broadcast cross join."""
    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        ivf_md5_topk_cosine,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return ivf_md5_topk_cosine(
        e, _query_vec(spark, sf_dir), id_col="vec_id",
        vec_col="embedding", dim=64, k=10, n_cells=8, n_probe=2,
    )


@query(
    "q_similarity_join_lsh",
    oracle=None,  # approximate (LSH recall) => rows-only
    tier="demo",  # WEAK-BY-DESIGN (r13/r14 verdicts): single BRP
    # projection per table, no AND banding — structurally bounded at
    # ~10⁵ vectors (measured COMPLETING at sf1 in 1021 s,
    # plans/r14/sweep_r14_noskip.json). Kept as the Spark-ML API
    # surface; the production tier is q_similarity_join_md5 (6.7 s sf1)
)
def q_similarity_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unblocked all-pairs cosine ≥ 0.3 via Spark ML
    ``BucketedRandomProjectionLSH.approxSimilarityJoin`` on normalized
    embeddings — the ML-API tier for pairwise similarity (SURVEY
    §2.12). Precision exact, recall LSH-bounded (recall floor asserted
    vs the exact pairs in tests); rows-only. Bucket length re-tuned
    round 13 (≈ the unit-vector projection σ — the 1.0 default packed
    the corpus into ~2 buckets/table); the 100 TB tier is
    q_similarity_join_md5's banded multi-bit RP join, whose AND-within-
    band composition the ML API cannot express (see
    approx_similarity_join_lsh's scale-limit note)."""
    e = load_table(spark, sf_dir, "embeddings")
    return approx_similarity_join_lsh(
        e,
        id_col="vec_id",
        vec_col="embedding",
        cosine_threshold=0.3,
        bucket_length=0.1,
        num_hash_tables=10,
    )


@query(
    "q_similarity_join_md5",
    oracle="""
    WITH planes AS (
      SELECT p,
             [list_reduce(list_transform(
                  [substr(md5('rp|' || p || '|' || i), c, 1)
                   for c in generate_series(1, 8)],
                c -> CAST(position(c IN '0123456789abcdef') AS BIGINT) - 1),
                (a, x) -> a * 16 + x) / 2147483648.0 - 1
              for i in generate_series(1, 64)] AS r
      FROM (SELECT unnest(generate_series(0, 31)) AS p)
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dots AS (
      SELECT e.vec_id, pl.p,
             list_reduce(list_transform(generate_series(1, 64),
                 i -> e.v[i] * pl.r[i]), (a, x) -> a + x) AS dot
      FROM e, planes pl
    ),
    sig AS (
      SELECT vec_id, p // 8 AS band,
             sum(CASE WHEN dot > 0
                 THEN CAST(pow(2, p % 8) AS BIGINT) ELSE 0 END) AS bucket
      FROM dots GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.band = b.band AND a.bucket = b.bucket
                            AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(ea.v, eb.v) + 1e-9, 4) AS cosine_sim
    FROM cand c JOIN e ea ON ea.vec_id = c.id_a
                JOIN e eb ON eb.vec_id = c.id_b
    WHERE round(list_cosine_similarity(ea.v, eb.v) + 1e-9, 4) >= 0.2
    """,
)
def q_similarity_join_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKABLE random-projection LSH similarity join (round-12
    verdict #4 — the last dedup-family member without a hash-proven
    sibling): banded sign-random-projection over the md5-derived plane
    family (``md5_rp_planes`` — plane p, component i =
    md5('rp|p|i')[:8] as uint32, mapped to [-1,1); both engines
    re-derive it exactly, like the md5 minhash/simhash twins). 32
    planes = 4 bands × 8 bits; candidates share a band bucket, are
    deduped across bands, and exact-cosine re-checked at ≥ 0.2.
    DuckDB replays the WHOLE pipeline — plane derivation, the
    left-to-right dot folds (bit-identical order to the engine's
    ``dot_col``), sign thresholds, bucket assembly, the banded
    self-join, pair dedup, and the rounded exact re-check — so a hash
    match proves every stage against an independent implementation.
    The ML-API demonstration tier (q_similarity_join_lsh, Spark ML
    BRP — bounded to ~10⁵ vectors, see approx_similarity_join_lsh's
    scale-limit note) keeps recall floors + property tests since its
    hash family has no cross-engine twin; this banded md5 join is the
    production/100 TB tier (SURVEY §2.12)."""
    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        rp_lsh_similarity_join,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return rp_lsh_similarity_join(
        e,
        id_col="vec_id",
        vec_col="embedding",
        dim=64,
        n_bands=4,
        bits_per_band=8,
        threshold=0.2,
    )


_ANN_TRAIN_CACHE: dict = {}


def _ann_train_key(sf_dir: str, kind: str) -> tuple:
    """Codebook-training memo key: fixture path + embeddings file
    identity (mtime+size, the fixture_scratch_dir convention) — a
    regenerated fixture retrains, identical fixtures reuse. Training is
    deterministic (seeded fits on a hash-pinned sample), so the cache
    only saves wall clock, never changes results; a real deployment
    trains offline once and serves many probes (the persisted-index
    path), which is the behavior this memo restores for the in-memory
    tier. Non-local roots (s3a://, hdfs://) cannot os.stat — same
    degraded-identity fallback as fixture_scratch_dir: key by path
    alone (reuse within a process; a regenerated remote fixture needs
    a fresh process, the documented limitation)."""
    import os
    import re

    if re.match(r"^[a-z0-9]+://", sf_dir):
        # remote object-store root: not os.stat-able — degraded
        # identity by path only (the documented limitation)
        return (kind, sf_dir, "no-stat")
    path = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    st = os.stat(path)  # local root: a stat failure is a real error
    return (kind, path, st.st_mtime_ns, st.st_size)


def _cached_ivf_centroids(spark, e, sf_dir: str):
    """The memoized 16-cell k-means IVF codebook for a fixture —
    trained once per embeddings-file identity, rebuilt as a tiny
    DataFrame per call (|codebook|-bounded driver rows)."""
    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        kmeans_centroids,
    )

    ck = _ann_train_key(sf_dir, "ivf16")
    if ck not in _ANN_TRAIN_CACHE:
        _ANN_TRAIN_CACHE[ck] = [
            (int(r["centroid_id"]), [float(x) for x in r["centroid_vec"]])
            for r in kmeans_centroids(
                e, "vec_id", "embedding", k=16
            ).collect()  # |codebook|-bounded
        ]
    return spark.createDataFrame(
        _ANN_TRAIN_CACHE[ck], "centroid_id int, centroid_vec array<double>"
    )


def _cached_pq_codebooks(e, sf_dir: str) -> list:
    """The memoized per-subspace PQ codebooks (M=8, K=32) for a
    fixture — trained once per embeddings-file identity."""
    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        pq_train_codebooks,
    )

    ck = _ann_train_key(sf_dir, "pq8x32")
    if ck not in _ANN_TRAIN_CACHE:
        _ANN_TRAIN_CACHE[ck] = pq_train_codebooks(e, "vec_id", "embedding")
    return _ANN_TRAIN_CACHE[ck]


@query("q_ann_ivf", oracle=None)  # approximate by construction => rows-only
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k: codebook = 16 k-means-FITTED
    centroids (seeded ``pyspark.ml`` KMeans on a bounded deterministic
    sample — ``operators/similarity.py:kmeans_centroids``, round-9:
    replaces the lowest-id stand-in; recall vs both recorded in
    SCALE.md §Round 9), probe the 4 cells nearest the query.
    Approximate ⇒ rows-only; the exactness baseline is
    ``q_topk_cosine``."""
    e = load_table(spark, sf_dir, "embeddings")
    centroids = _cached_ivf_centroids(spark, e, sf_dir)
    return ivf_topk_cosine(
        e,
        centroids,
        _query_vec(spark, sf_dir),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        n_probe=4,
    )


@query("q_ann_pq", oracle=None)  # approximate by construction => rows-only
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-k with asymmetric distance
    computation (``operators/similarity.py::pq_topk_cosine``): each
    64-dim embedding compresses to 8 subspace codes (per-subspace
    codebooks k-means-FITTED on a bounded deterministic sample —
    ``pq_train_codebooks``, round-9: replaces the lowest-id
    stand-in), a query
    scores rows by 8 literal-table lookups instead of 64-dim float
    math, and the top ADC survivors re-rank with exact cosine. The
    memory-bandwidth ANN tier: at 100 TB a scan touches 8 small ints
    per row, not the embedding column. Approximate ⇒ rows-only; recall
    vs the ``q_topk_cosine`` exact baseline is floor-tested
    (``tests/test_scale_techniques.py``) and the encode+ADC math is
    asserted equal to a pure-Python replay."""
    e = load_table(spark, sf_dir, "embeddings")
    return pq_topk_cosine(
        e,
        _query_vec(spark, sf_dir),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        codebooks=_cached_pq_codebooks(e, sf_dir),
    )


def _cached_ivfpq_trained(e, sf_dir: str) -> tuple:
    """The memoized composed IVF×PQ quantizer (16 coarse cells +
    M=8/K=64 residual codebooks) for a fixture — trained once per
    embeddings-file identity."""
    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        ivfpq_train,
    )

    ck = _ann_train_key(sf_dir, "ivfpq16x8x64")
    if ck not in _ANN_TRAIN_CACHE:
        _ANN_TRAIN_CACHE[ck] = ivfpq_train(e, "vec_id", "embedding")
    return _ANN_TRAIN_CACHE[ck]


def _cached_ivfpq_encoded(spark, e, sf_dir: str, trained: tuple):
    """The encoded (id, vec, centroid_id, codes) DataFrame for a
    fixture, cached per (session, embeddings-file identity) — a real
    deployment encodes once and serves many probes (what the persisted
    tier does physically); this memo restores that shape for the
    in-memory tier. ``ivfpq_encode`` is the numpy bulk kernel (round
    12): a JVM-side HOF encode cost ~3 s of py4j/plan construction and
    was re-INTERPRETED per element on every probe's ADC scan (measured
    16.5 s/probe at 2k vectors vs 3.6 s for the identical plan over
    numpy-encoded codes — and the gap grows with corpus size, the
    whole cause of the 97 s sf1 wall the round-11 verdict flagged).
    Plans are session-bound, so the key carries the applicationId."""
    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        ivfpq_encode,
    )

    ck = (
        _ann_train_key(sf_dir, "ivfpq_enc"),
        spark.sparkContext.applicationId,
    )
    if ck not in _ANN_TRAIN_CACHE:
        _ANN_TRAIN_CACHE[ck] = ivfpq_encode(
            e, trained[0], trained[1], "vec_id", "embedding"
        )
    return _ANN_TRAIN_CACHE[ck]


@query("q_ann_ivfpq", oracle=None)  # approximate by construction => rows-only
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED IVF×PQ approximate top-k (the faiss ``IVFPQ``/IVFADC
    shape — round-11, closing the round-10 verdict's missing 100 TB
    retrieval tier): coarse cell pruning AND 8-byte residual codes in
    ONE plan. Train: 16 coarse k-means cells + per-subspace codebooks
    fitted on RESIDUALS (vector − assigned centroid — smaller variance
    than raw vectors, so the same code budget quantizes tighter);
    encode: map-only nested-literal argmins, zero shuffle; probe: rank
    cells driver-side, scan ONLY the probed cells pricing each row by
    8 ADC table lookups, exact-re-rank the k·refine shortlist.
    Measured recall@10 at sf0.1 (isotropic fixtures — cell pruning's
    WORST case): 0.83 probing 8/16 cells, vs 0.705 for flat trained
    PQ scanning everything (SCALE.md §Round 11 has the full
    recall/probe curve). Approximate ⇒ rows-only; recall floor +
    python-replay encode equality in tests/test_scale_techniques.py;
    probe==memory parity in tests/test_txtable.py."""
    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        ivfpq_topk_cosine,
    )

    e = load_table(spark, sf_dir, "embeddings")
    trained = _cached_ivfpq_trained(e, sf_dir)
    return ivfpq_topk_cosine(
        e,
        _query_vec(spark, sf_dir),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        trained=trained,
        encoded=_cached_ivfpq_encoded(spark, e, sf_dir, trained),
    )


_HASH_EMBED_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            t -> t <> '')) AS t
  FROM documents
),
h AS (
  SELECT doc_id,
         (position(substr(md5(t), 8, 1) IN '0123456789abcdef') - 1) % 16
           AS dim,
         CASE WHEN (position(substr(md5(t), 9, 1) IN '0123456789abcdef')
                    - 1) % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM toks
),
per AS (
  SELECT doc_id, dim, CAST(sum(s) AS DOUBLE) AS v
  FROM h GROUP BY doc_id, dim
),
grid AS (
  SELECT d.doc_id, g.dim
  FROM (SELECT DISTINCT doc_id FROM per) d,
       (SELECT unnest(generate_series(0, 15)) AS dim) g
),
dense AS (
  SELECT grid.doc_id, grid.dim, coalesce(per.v, 0.0) AS v
  FROM grid LEFT JOIN per ON grid.doc_id = per.doc_id
                         AND grid.dim = per.dim
),
norms AS (
  SELECT doc_id, greatest(sqrt(sum(v * v)), 1e-12) AS nrm
  FROM dense GROUP BY doc_id
)
SELECT dense.doc_id,
       CAST(dense.dim AS INT) AS dim,
       round(dense.v / norms.nrm + 1e-9, 4) AS value
FROM dense JOIN norms ON dense.doc_id = norms.doc_id
ORDER BY dense.doc_id, dim
"""


@query("q_text_hash_embed", oracle=_HASH_EMBED_ORACLE)
def q_text_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing text embedder (round 11 — the hashing trick):
    every token lands in one of 16 md5-derived buckets with a ±1
    sign; per-doc bucket sums L2-normalize into a dense
    ``array<double>`` — the deterministic, vocabulary-free
    text→vector bridge whose output column is exactly what the
    similarity tier consumes, so a corpus embeds and ANN-indexes
    entirely in-engine (``functions/text.py::hash_embedding``). One
    (doc, dim) shuffle + one per-doc map build, zero Python in the
    row path; integer bucket sums make the norm EXACT in double at
    any aggregation order, so the DuckDB hash check proves the whole
    map token→bucket→sign→sum→normalize across engines. Registered in
    LONG form (doc_id, dim, value) — the oracle harness hashes scalar
    cells; the array form for the similarity tier is the function's
    native output (posexploded here)."""
    from nyc_taxi_etl_pyspark_spark.functions.text import hash_embedding

    d = load_table(spark, sf_dir, "documents")
    emb = hash_embedding(d, "doc_id", "text", dim=16)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim", "value")
    ).orderBy("doc_id", "dim")


# IDCG@10 lookup by relevant-count n (0..10): Σ_{i=1..min(n,10)}
# 1/log2(i+1), precomputed in Python and inlined as the SAME decimal
# literals into both the Spark plan and the DuckDB oracle, so the NDCG
# denominator is bit-identical across engines.
_IDCG_AT_10 = [
    0.0, 1.0, 1.6309297536, 2.1309297536, 2.5616063116, 2.9484591189,
    3.304666306, 3.6379996393, 3.9534645161, 4.2544945118, 4.5435593381,
]

_RETRIEVAL_EVAL_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe, label AS ql
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT q.qid, q.ql, e.vec_id, e.label,
         round(list_cosine_similarity(e.embedding, q.qe) + 1e-9, 4) AS sim
  FROM embeddings e, q WHERE e.vec_id <> q.qid
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY sim DESC, vec_id
  ) AS rnk FROM scored
),
nrel AS (
  SELECT qid, count(*) AS n_rel FROM scored WHERE label = ql GROUP BY qid
),
ag AS (
  SELECT qid,
         CAST(sum(CASE WHEN label = ql THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         sum(CASE WHEN label = ql THEN 1.0/log2(rnk + 1) ELSE 0 END) AS dcg,
         min(CASE WHEN label = ql THEN rnk END) AS first_rel
  FROM ranked WHERE rnk <= 10 GROUP BY qid
)
SELECT ag.qid AS query_id,
       CAST(nrel.n_rel AS BIGINT) AS n_rel,
       ag.hits,
       round(ag.hits/10.0 + 1e-9, 4) AS precision_at_k,
       round(ag.hits * 1.0 / nrel.n_rel + 1e-9, 4) AS recall_at_k,
       round(coalesce(1.0/ag.first_rel, 0.0) + 1e-9, 4) AS mrr,
       round(ag.dcg / list_extract(
         {_IDCG_AT_10}, least(nrel.n_rel, 10) + 1
       ) + 1e-9, 4) AS ndcg_at_k
FROM ag JOIN nrel USING (qid)
ORDER BY query_id
"""


@query("q_retrieval_eval", oracle=_RETRIEVAL_EVAL_ORACLE)
def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation harness (round 11): exact top-10
    cosine ranking per query vector, graded against label-match
    relevance — precision@10, recall@10, MRR@10, NDCG@10 per query.
    The eval tier every retrieval/ANN deployment needs next to its
    index (this is what produced SCALE.md's recall tables, as a
    first-class oracle-checked operator).

    Plan shape: the 5-row query side broadcasts into a map-side
    scored scan (no all-pairs — corpus × |queries| rows), one window
    rank per query partition, two small aggregates. |queries| is the
    knob: at 100 TB you evaluate hundreds of queries, each a
    broadcast-scan, never a corpus self-join. NDCG's IDCG denominator
    is a Python-precomputed literal table shared verbatim with the
    DuckDB oracle, so the hash check is exact."""
    from pyspark.sql import Window

    from nyc_taxi_etl_pyspark_spark.functions.vectors import (
        cosine_similarity_col,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("ql"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "ql",
            "vec_id",
            "label",
            stable_round(
                cosine_similarity_col(F.col("embedding"), F.col("qe")), 4
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    rel = F.col("label") == F.col("ql")
    nrel = (
        scored.where(rel)
        .groupBy("qid")
        .agg(F.count("*").cast("bigint").alias("n_rel"))
    )
    ag = (
        ranked.where(F.col("rnk") <= 10)
        .groupBy("qid")
        .agg(
            F.sum(F.when(rel, 1).otherwise(0)).cast("bigint").alias("hits"),
            F.sum(
                F.when(rel, F.lit(1.0) / F.log2(F.col("rnk") + 1)).otherwise(
                    0.0
                )
            ).alias("dcg"),
            F.min(F.when(rel, F.col("rnk"))).alias("first_rel"),
        )
    )
    idcg = F.element_at(
        F.lit(_IDCG_AT_10), F.least(F.col("n_rel"), F.lit(10)).cast("int") + 1
    )
    return (
        ag.join(nrel, on="qid")
        .select(
            F.col("qid").alias("query_id"),
            "n_rel",
            "hits",
            stable_round(F.col("hits") / 10.0, 4).alias("precision_at_k"),
            stable_round(
                F.col("hits") * F.lit(1.0) / F.col("n_rel"), 4
            ).alias("recall_at_k"),
            stable_round(
                F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)), 4
            ).alias("mrr"),
            stable_round(F.col("dcg") / idcg, 4).alias("ndcg_at_k"),
        )
        .orderBy("query_id")
    )


_LANG_ID_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang AS labeled_lang,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
),
scored AS (
  SELECT doc_id, labeled_lang,
         len(list_filter(t, x -> x IN ('der','die','und'))) AS s_de,
         len(list_filter(t, x -> x IN ('the','and','of')))  AS s_en,
         len(list_filter(t, x -> x IN ('el','la','de')))    AS s_es,
         len(list_filter(t, x -> x IN ('le','la','et')))    AS s_fr,
         len(list_filter(t, x -> x IN ('的','是','了')))     AS s_zh
  FROM toks
)
SELECT doc_id, labeled_lang,
       CASE
         WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
         WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
         WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
         WHEN s_en >= s_de THEN 'en'
         ELSE 'de'
       END AS predicted_lang,
       CAST(greatest(s_de, s_en, s_es, s_fr, s_zh) AS INTEGER) AS marker_hits
FROM scored
"""


@query("q_lang_id", oracle=_LANG_ID_ORACLE)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: score each candidate language by marker-token
    hits and take the argmax. Pure Catalyst expressions — at corpus scale
    this is one projection, no shuffle. ``array_max`` over (score, lang)
    structs compares field-wise, so ties resolve to the LARGEST language
    code — the oracle's CASE chain replicates exactly that order."""
    d = load_table(spark, sf_dir, "documents")
    markers = {
        "en": ("the", "and", "of"),
        "es": ("el", "la", "de"),
        "de": ("der", "die", "und"),
        "fr": ("le", "la", "et"),
        "zh": ("的", "是", "了"),
    }
    toks = tokens_col(F.col("text"))

    def marker_hits(markers_for_lang):
        return lambda t: t.isin(*markers_for_lang)

    scores = F.array(
        *[
            F.struct(
                F.size(F.filter(toks, marker_hits(ms))).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, ms in sorted(markers.items())
        ]
    )
    best = F.array_max(scores)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        best["lang"].alias("predicted_lang"),
        best["score"].alias("marker_hits"),
    )


@query(
    "q_topk_cosine_pandas",
    oracle="""
    SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.query_embedding AS DOUBLE[])) + 1e-9, 4)
             AS cosine_sim
    FROM embeddings e,
         (SELECT embedding AS query_embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def q_topk_cosine_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact top-k as q_topk_cosine but through the Arrow-vectorized
    ``pandas_udf`` path (one numpy matmul per batch) — the wide-embedding
    alternative to Catalyst higher-order functions. Same oracle: both
    paths must agree to 4 decimals."""
    from nyc_taxi_etl_pyspark_spark.functions.vectors import (
        pandas_cosine_similarity,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qrow = _query_vec(spark, sf_dir).first()
    cos = pandas_cosine_similarity([float(x) for x in qrow["query_embedding"]])
    return (
        e.select(
            "vec_id",
            stable_round(cos(F.col("embedding")), 4).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@query(
    "q_token_count_regex",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS INT)
             AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_number_tokens
    FROM documents
    """,
)
def q_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (SURVEY §2.12 text analysis): the
    GPT-2-style pre-tokenizer split — letter runs | digit runs |
    punctuation runs — as a pure Catalyst projection; the cheap
    token-budget estimator a corpus pipeline runs before the real
    tokenizer pass."""
    d = load_table(spark, sf_dir, "documents")
    pat = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[0-9]+"), F.lit(0))
        ).alias("n_number_tokens"),
    )


@query(
    "q_doc_fingerprint_rolling",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i,
             text
      FROM documents
    )
    SELECT doc_id, min(md5(substr(text, i, 8))) AS rolling_fingerprint
    FROM grams
    GROUP BY doc_id
    """,
)
def q_doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (SURVEY §2.12): hash every
    8-char window and keep the lexicographic min — a winnowing-style
    content signature robust to appends/truncation (unlike whole-doc
    md5). md5 keeps the oracle engine-portable; the char_ngrams HOF
    receives a MATERIALIZED text column (see functions/text.py PERF
    note)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.array_min(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 7, 1)), "
                "i -> md5(cast(substring(text, i, 8) AS BINARY)))"
            )
        ).alias("rolling_fingerprint"),
    )


@query(
    "q_quality_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, lang, string_split(text, ' ') AS toks,
             length(replace(text, ' ', '')) AS nchar
      FROM documents
    )
    SELECT doc_id, source, lang, CAST(len(toks) AS INT) AS n_tokens
    FROM t
    WHERE len(toks) >= 10
      AND len(list_filter(toks, x -> x IN {_STOPWORD_SQL}))::DOUBLE
          / len(toks)::DOUBLE >= 0.05
      AND len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE >= 0.3
      AND nchar::DOUBLE / len(toks)::DOUBLE <= 12.0
    """,
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-cleaning gate (C4-style): length, stopword density,
    repetitiveness, symbol-soup thresholds composed into one pushed-down
    boolean filter — returns the surviving corpus. The filter companion
    to the q_text_tokenstats signals."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    return (
        d.withColumn("__toks", toks)
        .filter(quality_gate(F.col("__toks")))
        .select(
            "doc_id", "source", "lang", F.size("__toks").alias("n_tokens")
        )
    )


@query(
    "q_udtf_chunks",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), st AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks), 24)) AS start1
      FROM t
    )
    SELECT doc_id,
           CAST((start1 - 1) // 24 AS INT) AS chunk_idx,
           CAST(start1 - 1 AS INT) AS start_tok,
           CAST(len(toks[start1 : start1 + 31]) AS INT) AS n_chunk_tokens,
           array_to_string(toks[start1 : start1 + 31], ' ') AS chunk_text
    FROM st
    """,
)
def q_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF document chunker: 32-token windows, 8-token overlap,
    applied via LATERAL join — one doc row fans out to its chunk rows in
    the Python worker. Deterministic ⇒ full value-hash oracle parity."""
    from nyc_taxi_etl_pyspark_spark.functions.udtf import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(spark, d)


@query(
    "q_knn_per_vector",
    oracle="""
    SELECT id_a, id_b, cosine_sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])) + 1e-9, 4)
               AS cosine_sim,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                     CAST(b.embedding AS DOUBLE[])) + 1e-9, 4) DESC,
                        b.vec_id
             ) AS rn
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id
    ) WHERE rn <= 3
    """,
)
def q_knn_per_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed kNN join: each embedding's top-3 cosine neighbors within
    its label block — the similarity-graph primitive (blocked self-join +
    per-vector window rank; rounded cosine + id tie-break ⇒ fully
    deterministic and oracle-checked)."""
    e = load_table(spark, sf_dir, "embeddings")
    return knn_within_group(
        e, id_col="vec_id", vec_col="embedding", block_col="label", k=3
    )


@query("q_dedup_minhash_survivors", oracle=None)  # xxhash64-based => rows-only
def q_dedup_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-tier dedup pipeline end to end: MinHash-LSH candidate
    pairs → connected-components cluster resolution → canonical-survivor
    corpus — the same pair→cluster→survivor chain as the oracle-checked
    exact-Jaccard tier (q_dedup_survivors), but with LSH discovering the
    blocks, which is what replaces quadratic candidate generation at
    100 TB. Rows-only (hash family is engine-specific); the pipeline
    *structure* is verified by the exact tier's oracle and the survivor
    count is sanity-bounded in tests."""
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(
        d, id_col="doc_id", text_col="text", num_hashes=32, bands=8, shingle_n=2
    )
    return dedup_survivors(
        d, pairs.select("id_a", "id_b"), id_col="doc_id", pre_deduped=True
    ).select("doc_id", "source", "lang")


@query(
    "q_text_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
      SELECT token, count(*) AS total_count,
             count(DISTINCT doc_id) AS n_docs
      FROM toks GROUP BY token
    )
    SELECT token, total_count, n_docs
    FROM counts
    WHERE total_count > (SELECT 0.002 * sum(total_count) FROM counts)
    ORDER BY total_count DESC, token
    """,
)
def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over the corpus vocabulary: tokens carrying
    more than 0.2% of all token mass (a RELATIVE threshold, so the query
    means the same thing at every scale factor). Two-level shape:
    explode → per-token partial+final counts (output bounded by |vocab|,
    not corpus size), then the global total comes back as a broadcast
    1-row cross join — never a driver-side collect and never an
    unpartitioned window. The exact baseline that a count-min sketch or
    space-saving summary replaces when even |vocab| is too big."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    counts = toks.groupBy("token").agg(
        F.count("*").alias("total_count"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    total = counts.agg(F.sum("total_count").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("total_count") > 0.002 * F.col("__total"))
        .select("token", "total_count", "n_docs")
        .orderBy(F.desc("total_count"), "token")
    )


@query(
    "q_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, count(*) AS df FROM tf GROUP BY token
    ),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf, df.df,
           round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1e-9, 4)
             AS tfidf
    FROM tf, df, n
    WHERE tf.token = df.token
    QUALIFY row_number() OVER (
        PARTITION BY tf.doc_id
        ORDER BY tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) DESC, tf.token
      ) <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — the classic keyword-extraction /
    relevance-weighting projection. Plan shape chosen for 100 TB: the
    document-frequency table joins UNHINTED (|vocab| is unbounded on
    web text — AQE broadcasts it only while it is actually small), the
    corpus size joins as a broadcast 1-row scalar, and the final top-3
    is a per-doc window on the already-doc-partitioned result. Smoothed
    idf = ln((N+1)/(df+1)); ranking uses the raw double (both engines
    compute the identical IEEE expression), rounding only formats the
    output."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    score = F.col("tf") * F.log(
        (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("__score"), "token")
    # NO explicit broadcast hint on the document-frequency table: its
    # cardinality is |vocab|, which on raw web text is unbounded (10⁹+
    # tokens) — a forced hint would defeat Spark's own size check and
    # OOM the build side. Unhinted, AQE's runtime size check broadcasts
    # it whenever it is actually small (it is at every bench SF) and
    # falls back to a shuffle join when it is not.
    return (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .withColumn("__score", score)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 3)
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            stable_round(F.col("__score"), 4).alias("tfidf"),
        )
    )


def _cooccurrence_pairs(docs: DataFrame):
    """Shared co-occurrence graph derivation (q_token_cooccurrence +
    q_textrank_keywords — ONE definition so the graph can't drift):
    df-pruned vocabulary (>5% of docs) → (doc, token) self-join on
    doc_id → (token_a < token_b) pairs with df_a/df_b/n_both, kept at
    n_both >= 5. Returns (pairs_df, n_docs_df)."""
    # (doc, token) pairs deduped MAP-SIDE via array_distinct BEFORE the
    # explode (round 14, guide §2.4): the former explode → .distinct()
    # spelling shuffled every raw token occurrence (~20× the distinct
    # pair count on the fixture corpus) just to dedup within-document
    # repeats that a per-row array op removes for free. Identical
    # (doc_id, token) set — distinctness across documents is vacuous
    # (doc_id is in the pair) — so the oracle's SELECT DISTINCT
    # replays it unchanged. PRECONDITION (ADVICE r14): this equivalence
    # assumes doc_id is unique in the documents table (true of the
    # fixture and asserted in tests/test_corpus_pipeline.py); a corpus
    # carrying duplicate doc_id ROWS would need the old explode →
    # .distinct() spelling to collapse the repeated rows' tokens. The COUNT-LESS repartition on doc_id
    # shuffles only the distinct pairs and is load-bearing twice over:
    # it is the exchange both sides of the downstream doc_id self-join
    # reuse (no further shuffle of dt) and it gives AQE real
    # post-shuffle sizes for the join strategy, while staying
    # AQE-coalescible (a fixed partition count measured +0.7 s at
    # sf0.1). A/B at sf0.1/sf1 (noop, warm): no-exchange 1.01/1.94 s,
    # fixed-32 1.37/2.56 s, THIS 0.62/2.06 s, the r13
    # explode→distinct 1.07/5.57 s.
    # Round 15: the repartition moved BEFORE tokenize/explode — the
    # documents fixture scans as 1-2 parquet splits, so with the
    # exchange after the explode the split+array_distinct+explode work
    # ran on 2 of 32 cores (the same narrow-scan disease as the r14
    # md5-twin batch 13). Shuffling the RAW text rows is also fewer
    # bytes than shuffling the exploded (doc_id, token) pairs, and a
    # repartition by doc_id is preserved through the per-row
    # select/explode, so the downstream doc_id self-join still reuses
    # this one exchange. A/B at sf1 (noop, warm): r14 spelling 2.2-2.5
    # s → THIS 1.4-1.6 s.
    dt = docs.repartition("doc_id").select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.col("text"), " "))
        ).alias("token"),
    )
    df = dt.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    vocab = (
        df.crossJoin(F.broadcast(n))
        .where(F.col("df") > 0.05 * F.col("n_docs"))
        .select("token", "df")
    )
    vdt = dt.join(F.broadcast(vocab), "token").select("doc_id", "token", "df")
    a = vdt.select(
        "doc_id", F.col("token").alias("token_a"), F.col("df").alias("df_a")
    )
    b = vdt.select(
        "doc_id", F.col("token").alias("token_b"), F.col("df").alias("df_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b", "df_a", "df_b")
        .agg(F.count("*").alias("n_both"))
        .where(F.col("n_both") >= 5)
    )
    return pairs, n


@query(
    "q_token_cooccurrence",
    oracle="""
    WITH dt AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    df AS (SELECT token, count(*) AS df FROM dt GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    vocab AS (
      SELECT df.token, df.df FROM df, n
      WHERE df.df > 0.05 * n.n_docs
    ),
    vdt AS (
      SELECT dt.doc_id, dt.token, v.df
      FROM dt JOIN vocab v ON dt.token = v.token
    ),
    pairs AS (
      SELECT a.token AS token_a, b.token AS token_b,
             a.df AS df_a, b.df AS df_b, count(*) AS n_both
      FROM vdt a JOIN vdt b
        ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY 1, 2, 3, 4
    )
    SELECT token_a, token_b, n_both,
           round(ln((CAST(n_both AS DOUBLE) * n.n_docs)
                    / (CAST(df_a AS DOUBLE) * df_b)) + 1e-9, 4) AS pmi
    FROM pairs, n
    WHERE n_both >= 5
    """,
)

def q_token_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence with pointwise mutual information — the
    word-association / collocation-mining pass (phrase detection,
    embedding-context statistics). The pair space is bounded BEFORE the
    self-join: only vocabulary tokens appearing in >5% of documents
    participate, so pairs ≤ |V|² regardless of corpus size — the same
    reason word2vec-era pipelines mined collocations over a pruned
    vocabulary. The (doc, token) self-join co-locates on doc_id (one
    shuffle each side), the pair rollup is bounded by |V|², and PMI is
    computed from exact integer counts (ln applied identically in both
    engines, rounded for the hash)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs, n = _cooccurrence_pairs(docs)
    pmi = F.log(
        (F.col("n_both").cast("double") * F.col("n_docs"))
        / (F.col("df_a").cast("double") * F.col("df_b"))
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .select(
            "token_a",
            "token_b",
            "n_both",
            stable_round(pmi, 4).alias("pmi"),
        )
    )


@query(
    "q_textrank_keywords",
    oracle="""
    WITH dt AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    df AS (SELECT token, count(*) AS df FROM dt GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    vocab AS (
      SELECT df.token FROM df, n WHERE df.df > 0.05 * n.n_docs
    ),
    vdt AS (
      SELECT dt.doc_id, dt.token FROM dt JOIN vocab v ON dt.token = v.token
    ),
    pairs AS (
      SELECT a.token AS ta, b.token AS tb
      FROM vdt a JOIN vdt b ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY 1, 2
      HAVING count(*) >= 5
    ),
    edges AS (
      SELECT ta AS src, tb AS dst FROM pairs
      UNION ALL
      SELECT tb, ta FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS token FROM edges),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n_nodes FROM nodes),
    pr0 AS (SELECT token, 1.0 / nn.n_nodes AS pr FROM nodes CROSS JOIN nn),
    m1 AS (
      SELECT e.dst AS token, sum(p.pr / d.deg) AS mass
      FROM edges e JOIN pr0 p ON e.src = p.token JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    pr1 AS (
      SELECT nodes.token,
             (1.0 - 0.85) / nn.n_nodes + 0.85 * coalesce(m1.mass, 0.0) AS pr
      FROM nodes CROSS JOIN nn LEFT JOIN m1 ON nodes.token = m1.token
    ),
    m2 AS (
      SELECT e.dst AS token, sum(p.pr / d.deg) AS mass
      FROM edges e JOIN pr1 p ON e.src = p.token JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    pr2 AS (
      SELECT nodes.token,
             (1.0 - 0.85) / nn.n_nodes + 0.85 * coalesce(m2.mass, 0.0) AS pr
      FROM nodes CROSS JOIN nn LEFT JOIN m2 ON nodes.token = m2.token
    ),
    m3 AS (
      SELECT e.dst AS token, sum(p.pr / d.deg) AS mass
      FROM edges e JOIN pr2 p ON e.src = p.token JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    pr3 AS (
      SELECT nodes.token,
             (1.0 - 0.85) / nn.n_nodes + 0.85 * coalesce(m3.mass, 0.0) AS pr
      FROM nodes CROSS JOIN nn LEFT JOIN m3 ON nodes.token = m3.token
    )
    SELECT pr3.token, deg.deg, round(pr3.pr + 1e-9, 6) AS pr
    FROM pr3 JOIN deg ON pr3.token = deg.src
    """,
)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank: PageRank (3 fixed iterations, damping 0.85) over the
    same df-pruned co-occurrence graph as q_token_cooccurrence — the
    graph-centrality keyword ranker that needs no training data. This is
    the engine's ITERATIVE-algorithm surface (with connected components
    in operators/dedup.py): each iteration is one edges⋈ranks join plus
    a |nodes|-bounded aggregate, lineage checkpointed periodically
    (operators/graph.py). The oracle unrolls the exact same three
    iterations as chained CTEs — damping spelled (1.0 - 0.85) in both
    engines so even the float literals agree bit-for-bit."""
    from nyc_taxi_etl_pyspark_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    pairs, _ = _cooccurrence_pairs(docs)
    # both edge directions in ONE pass over the pair tail (round 15,
    # guide §2.4): the former fwd.unionByName(rev) planned the whole
    # cooccurrence derivation (tokenize → df-prune → doc self-join →
    # pair agg, ~1 s at sf0.1) as TWO subtrees, and pagerank's eager
    # edge checkpoint executed both; the explode emits the identical
    # (src, dst) multiset from a single scan.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("token_a").alias("src"),
                    F.col("token_b").alias("dst"),
                ),
                F.struct(
                    F.col("token_b").alias("src"),
                    F.col("token_a").alias("dst"),
                ),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst")
    pr = pagerank(edges, iterations=3, damping=0.85)
    return pr.select("token", "deg", stable_round(F.col("pr"), 6).alias("pr"))


@query(
    "q_bpe_pair_freq",
    oracle="""
    WITH dt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    pos AS (
      SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
      FROM dt
    )
    SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_pair
    FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    GROUP BY tok_a, tok_b
    ORDER BY n_pair DESC, tok_a, tok_b
    LIMIT 25
    """,
)
def q_bpe_pair_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair frequency count — the inner step of BPE/WordPiece
    vocabulary induction (find the most frequent symbol pair to merge
    next). ORDER matters here, unlike the set-semantics co-occurrence
    query: (a,b) at positions (i,i+1) only. The pair stream is generated
    IN-ARRAY per row (zip of the token array with its own tail) so the
    corpus scan explodes straight into a hash aggregate — one shuffle of
    |vocab|² bounded pair counts, versus the oracle's positional
    self-join which would shuffle the full (doc,pos,token) stream twice
    at 100 TB. Counts are exact integers; the DESC/asc/asc order is
    total, so LIMIT 25 is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.withColumn("toks", F.split(F.col("text"), " "))
    pairs = dt.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("toks"), 1, F.size("toks") - 1).alias("a"),
                F.slice(F.col("toks"), 2, F.size("toks") - 1).alias("b"),
            )
        ).alias("p")
    )
    return (
        pairs.select(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("n_pair"))
        .orderBy(F.col("n_pair").desc(), "tok_a", "tok_b")
        .limit(25)
    )


@query("q_ann_ivf_persisted", oracle=None)  # approximate by construction => rows-only
def q_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index PERSISTED: same codebook and probe budget as
    q_ann_ivf, but the cell assignments live in a transactional
    commit-log table partitioned by centroid cell (codebook in the
    manifest meta), so the probe plans from ONE manifest read — pure-
    Python codebook ranking, then exact cosine over only the probed
    cells' files via manifest partition pruning. Equality with the
    in-memory IVF over identical centroids is asserted in
    tests/test_txtable.py; approximate vs exact top-k by construction
    ⇒ rows-only (exactness baseline q_topk_cosine)."""
    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_probe,
    )
    from nyc_taxi_etl_pyspark_spark.sources.paths import fixture_scratch_dir
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    e = load_table(spark, sf_dir, "embeddings")
    root = fixture_scratch_dir(
        "spark_graft_ivfindex", sf_dir, anchor="embeddings.parquet"
    )
    t = TransactionalTable(root)
    if not t.exists():
        centroids = _cached_ivf_centroids(spark, e, sf_dir)
        build_ivf_index(t, e, centroids, id_col="vec_id", vec_col="embedding")
    return ivf_index_probe(
        spark,
        t,
        _query_vec(spark, sf_dir),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        n_probe=4,
    )


@query("q_ann_pq_persisted", oracle=None)  # approximate => rows-only
def q_ann_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ index PERSISTED (``build_pq_index``/``pq_index_probe``):
    codes + embeddings live in a bloom-indexed commit-log table with
    the codebooks in manifest meta, so a probe (a) plans its ADC
    tables with zero Spark jobs, (b) scans ONLY the M small-int code
    columns — parquet column pruning leaves the embedding bytes
    unread — and (c) point-reads just the k·refine shortlist rows for
    the exact re-rank, bloom-pruned to their files on ``vec_id``. The
    lakehouse ANN shape for 100 TB: full-precision vectors are touched
    for 80 rows total per query. Equality with the in-memory
    ``pq_topk_cosine`` over identical codebooks asserted in
    tests/test_scale_techniques.py; approximate ⇒ rows-only."""
    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        build_pq_index,
        pq_index_probe,
    )
    from nyc_taxi_etl_pyspark_spark.sources.paths import fixture_scratch_dir
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    e = load_table(spark, sf_dir, "embeddings")
    root = fixture_scratch_dir(
        "spark_graft_pqindex", sf_dir, anchor="embeddings.parquet"
    )
    t = TransactionalTable(root)
    if not t.exists():
        build_pq_index(
            t,
            e,
            id_col="vec_id",
            vec_col="embedding",
            codebooks=_cached_pq_codebooks(e, sf_dir),
        )
    return pq_index_probe(
        spark,
        t,
        _query_vec(spark, sf_dir),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
    )


@query("q_ann_ivfpq_persisted", oracle=None)  # approximate => rows-only
def q_ann_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF×PQ index PERSISTED
    (``build_ivfpq_index``/``ivfpq_index_probe``): rows are
    (id, embedding, centroid_id, 8 residual codes), hive-partitioned
    by coarse cell and bloom-indexed on ``vec_id``; the quantizer
    rides the manifest meta. A probe (a) plans driver-side with zero
    Spark jobs, (b) reads ONLY the probed cells' partitions (manifest
    partition pruning — unprobed cells' files never listed or
    opened) projecting ONLY the code columns (embedding bytes
    unread), and (c) point-reads just the k·refine shortlist rows
    for the exact re-rank. The full 100 TB lakehouse ANN shape: scan
    bytes cut by BOTH n_probe/n_cells (IVF) and codes-vs-floats (PQ)
    — neither flat persisted tier delivers both. Equality with the
    in-memory ``ivfpq_topk_cosine`` over the identical quantizer
    asserted in tests/test_txtable.py; approximate ⇒ rows-only."""
    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_index_probe,
    )
    from nyc_taxi_etl_pyspark_spark.sources.paths import fixture_scratch_dir
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    e = load_table(spark, sf_dir, "embeddings")
    root = fixture_scratch_dir(
        "spark_graft_ivfpqindex", sf_dir, anchor="embeddings.parquet"
    )
    t = TransactionalTable(root)
    if not t.exists():
        build_ivfpq_index(
            t,
            e,
            id_col="vec_id",
            vec_col="embedding",
            trained=_cached_ivfpq_trained(e, sf_dir),
        )
    return ivfpq_index_probe(
        spark,
        t,
        _query_vec(spark, sf_dir),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
    )


def _simhash_md5_oracle() -> str:
    """Generated SQL for the md5-simhash oracle: 60 per-bit vote sums
    over md5-derived token-hash bits (bit b lives in hex digit b//4,
    position b%4), fingerprint = Σ 2^b · [vote_b > 0]."""
    votes = ",\n             ".join(
        f"sum(((dg[{b // 4 + 1}] >> {b % 4}) & 1) * 2 - 1) AS v{b}"
        for b in range(60)
    )
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(60)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({{toks}}) AS t FROM documents
    ), dg AS (
      SELECT doc_id,
             [CAST(position(substr(md5(t), c, 1) IN '0123456789abcdef') AS INT) - 1
              for c in generate_series(1, 15)] AS dg
      FROM tok
    ), votes AS (
      SELECT doc_id,
             {votes}
      FROM dg GROUP BY doc_id
    )
    SELECT doc_id, CAST({fp} AS BIGINT) AS fingerprint
    FROM votes
    """


_SIMHASH_TOKS_SQL = (
    "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
)


@query(
    "q_dedup_simhash_md5",
    oracle=_simhash_md5_oracle().replace("{toks}", _SIMHASH_TOKS_SQL),
)
def q_dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKABLE SimHash twin (the md5-derived-hash tier, same
    discipline as the count-min sketch's deterministic hash family):
    per document, every token votes ±1 on each of 60 bits drawn from
    the token's md5 (bit b = bit b%4 of hex digit b//4 — 15 hex digits
    = 60 bits, kept under 2^63 so the assembled fingerprint is a plain
    BIGINT in both engines), and the fingerprint sets bit b where the
    vote is positive. DuckDB re-derives the identical fingerprints
    declaratively, hash-proving the WHOLE simhash computation — vote
    extraction, per-bit aggregation, sign threshold, bit assembly —
    against an independent implementation; the production tier
    (q_dedup_simhash, one xxhash64 per token instead of an md5 + 15
    char-conversions) keeps the same algorithm with a cheaper hash and
    adds the prefix-blocked Hamming pair generation, property-tested
    since its hash family has no cross-engine twin. Plan shape: explode
    → 60-column projection (codegen'd) → one groupBy(doc) with map-side
    combine — one shuffle, |docs|·60 integer cells."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    md5c = F.md5(F.col("__tok"))
    digits = [
        F.conv(F.substring(md5c, c + 1, 1), 16, 10).cast("int")
        for c in range(15)
    ]
    # bit votes inline in each sum (round 15, same rewrite as
    # simhash_dedup): narrow (doc_id, 15 md5 digits) rows into the
    # aggregate instead of a 60-int-column row per token occurrence;
    # identical integer sums.
    hashed = (
        d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", toks.alias("__toks"))
        .select("doc_id", F.explode_outer("__toks").alias("__tok"))
        .filter(F.col("__tok").isNotNull())
        .select(
            "doc_id",
            *[digits[c].alias(f"__d{c}") for c in range(15)],
        )
    )
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright(F.col(f"__d{b // 4}"), b % 4).bitwiseAND(
                    F.lit(1)
                )
                * 2
                - 1
            ).alias(f"__v{b}")
            for b in range(60)
        ]
    )
    fingerprint = None
    for b in range(60):
        term = F.when(F.col(f"__v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return votes.select("doc_id", fingerprint.alias("fingerprint"))


def _minhash_md5_oracle(k: int = 8) -> str:
    """Generated SQL for the md5-minhash oracle: k independent 60-bit
    hash functions H_i(shingle) = int(md5(shingle || '|i')[:15], 16),
    signature slot i = min over the doc's distinct 3-token shingles."""
    val = (
        "list_reduce(list_transform("
        "[substr(md5(sh || '|{i}'), c, 1) for c in generate_series(1, 15)],"
        " c -> CAST(position(c IN '0123456789abcdef') AS BIGINT) - 1),"
        " (a, b) -> a * 16 + b)"
    )
    mins = ",\n           ".join(
        f"min({val.format(i=i)}) AS s{i}" for i in range(k)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                for i in generate_series(1, len(toks) - 2)])) AS sh
      FROM (SELECT doc_id, {{toks}} AS toks FROM documents)
    )
    SELECT doc_id,
           {mins}
    FROM sh GROUP BY doc_id
    """


@query(
    "q_dedup_minhash_md5",
    oracle=_minhash_md5_oracle().replace("{toks}", _SIMHASH_TOKS_SQL),
)
def q_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKABLE MinHash twin (md5-derived hash family, like
    q_dedup_simhash_md5): k=8 independent 60-bit hash functions
    H_i(shingle) = md5(shingle || '|i') truncated to 15 hex digits,
    signature slot i = min over the document's distinct 3-token
    shingles. DuckDB re-derives identical signatures declaratively —
    hash-proving shingling, the per-function min-reduction, and the
    hex→integer derivation against an independent implementation. The
    production tier (q_dedup_minhash) keeps the same estimator with
    one-permutation hashing (ONE xxhash64 per shingle, k slots by
    bucketing — k× less hash CPU) plus banding and pair generation;
    its hash family has no cross-engine twin, so it carries
    property/recall tests instead. Plan shape: explode distinct
    shingles → k md5 columns → one groupBy(doc) min-agg with map-side
    combine — one shuffle."""
    from nyc_taxi_etl_pyspark_spark.functions.text import token_shingles

    k = 8
    d = load_table(spark, sf_dir, "documents")
    # repartition by doc_id BEFORE the md5-heavy projection (round 14):
    # the fixture scan is 1-2 parquet splits, so the k-md5-per-shingle
    # stage otherwise runs on 1-2 cores (measured 19.9 s at sf1, 2/32
    # tasks); the exchange is the same one the groupBy(doc_id) min-agg
    # needs, so it reuses the partitioning — same trick as
    # minhash_signatures. Rows identical; oracle unaffected.
    n_part = spark.sparkContext.defaultParallelism
    sh = (
        d.repartition(n_part, "doc_id")
        .select("doc_id", tokens_col(F.col("text")).alias("__toks"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(token_shingles(F.col("__toks"), 3))
            ).alias("__sh"),
        )
    )
    hashes = [
        F.conv(
            F.substring(F.md5(F.concat(F.col("__sh"), F.lit(f"|{i}"))), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias(f"__h{i}")
        for i in range(k)
    ]
    return (
        sh.select("doc_id", *hashes)
        .groupBy("doc_id")
        .agg(*[F.min(f"__h{i}").alias(f"s{i}") for i in range(k)])
    )


@query(
    "q_jaccard_prefix_filter",
    oracle="""
    WITH s AS (
      SELECT doc_id, source,
             list_distinct(list_filter(
               string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS st
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.source AS block,
           round(len(list_intersect(a.st, b.st))::DOUBLE
                 / len(list_distinct(list_concat(a.st, b.st)))::DOUBLE
                 + 1e-9, 4) AS jaccard
    FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.st, b.st))::DOUBLE
          / len(list_distinct(list_concat(a.st, b.st)))::DOUBLE >= 0.6
    """,
)
def q_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join via PREFIX FILTERING (the PPJoin/SSJoin
    candidate-pruning scheme, Chaudhuri et al. ICDE'06 / Xiao et al.
    WWW'08): token sets are ordered by a GLOBAL canonical order
    (document frequency ascending, token as tie-break — rarest first),
    each document keeps only its first |set| − ceil(t·|set|) + 1 tokens
    as its PREFIX, and candidate pairs are generated ONLY where two
    prefixes share a token. The prefix-filtering lemma makes this
    LOSSLESS for Jaccard ≥ t: the globally-least common token of any
    qualifying pair lies inside both prefixes. The oracle is the
    brute-force all-pairs Jaccard within blocks — matching proves the
    pruning dropped no qualifying pair (and the exact verify kept no
    false positive). vs the inverted-index join (q_dedup_ngram_jaccard,
    which posts EVERY token): candidate volume scales with prefix
    postings only — at t=0.6, ~40% of each posting list never enters
    the join, and rare-first ordering makes surviving postings short.
    Jaccard is a ratio of integer set sizes ⇒ bit-identical across
    engines; the t=0.6 cut compares exact doubles."""
    t = 0.6
    # Widen past the 1-2-split documents scan (round 15, guide §2.5
    # input skew — the same fix as the md5-twin hash stages, r14 batch
    # 13): every tokenize/explode consumer below otherwise runs on 2 of
    # 32 cores at sf1 (measured: tokenize 2.8 s, explode 1.9 s, df agg
    # 1.9 s, all 2-wide). The doc_id exchange is the one the
    # row_number window needs anyway, so it is reused, not extra.
    n_part = spark.sparkContext.defaultParallelism
    d = (
        load_table(spark, sf_dir, "documents")
        .repartition(n_part, "doc_id")
        .select(
            "doc_id",
            "source",
            F.array_distinct(tokens_col(F.col("text"))).alias("__st"),
        )
    )
    tok = d.select(
        "doc_id", "source", F.size("__st").alias("__n"),
        F.explode("__st").alias("__tok"),
    )
    df_tbl = tok.groupBy("__tok").agg(F.count("*").alias("__df"))
    w = Window.partitionBy("doc_id").orderBy("__df", "__tok")
    # df_tbl is |vocab|-sized (data-dependent, unbounded on web text):
    # no explicit broadcast hint — AQE broadcasts it when actually
    # small, shuffle-joins when not (see q_tfidf_top_terms)
    # Materialize the prefix ONCE (round 15): both sides of the
    # candidate self-join consume it and Spark does not unify the two
    # subtrees, so the tokenize→df-join→window pipeline executed twice
    # (measured ~2.8 s/pass at sf1). The prefix is SMALL by
    # construction — |set|−ceil(t·|set|)+1 tokens per doc (~40% of
    # postings, ids + a 4-byte size + rank + one token string per row)
    # — so one eager localCheckpoint costs far less than the second
    # derivation. Same discipline as connected_components' canon
    # checkpoint; checkpoint() on a real cluster.
    prefix = (
        tok.join(df_tbl, "__tok")
        .withColumn("__rn", F.row_number().over(w))
        .where(
            F.col("__rn")
            <= F.col("__n") - F.ceil(F.lit(t) * F.col("__n")) + 1
        )
        .select("doc_id", "source", "__n", "__rn", "__tok")
        .localCheckpoint(eager=True)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    na, nb = F.col("a.__n"), F.col("b.__n")
    pa, pb = F.col("a.__rn"), F.col("b.__rn")
    # LENGTH + POSITIONAL FILTERS inside the candidate join (round 15 —
    # the PPJoin companion lemmas to prefix filtering, both LOSSLESS
    # for Jaccard ≥ t; Xiao et al. WWW'08):
    # - length: |a∩b| ≤ min(|a|,|b|) and |a∪b| ≥ max(|a|,|b|), so
    #   J ≤ min/max — any qualifying pair satisfies min ≥ t·max;
    # - positional: J ≥ t ⇔ |a∩b| ≥ α = ceil(t/(1+t)·(|a|+|b|)), and
    #   for a shared token at ranks (pa, pb) in the global order every
    #   common token sorts at rank ≥ pa/pb in its set, so
    #   |a∩b| ≤ 1 + min(|a|−pa, |b|−pb). A qualifying pair's FIRST
    #   shared prefix token (its minimal ranks ⇒ the loosest bound)
    #   always passes, so the pair survives the distinct — lossless.
    # Sizes and ranks are ints already riding the prefix rows, so both
    # prune BEFORE the ids-only dedup and, critically, before the token
    # ARRAYS re-attach (guide §8: decide with small rows). Measured at
    # sf1: pre-distinct join output 23.5 M → 8.6 M rows, candidates
    # 6.06 M → 3.44 M, final output rows IDENTICAL (495,586). The
    # final jac ≥ t verify below is unchanged and still decides
    # membership.
    cand = (
        a.join(
            b,
            (F.col("a.__tok") == F.col("b.__tok"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.least(na, nb) >= F.lit(t) * F.greatest(na, nb))
            & (
                F.lit(1) + F.least(na - pa, nb - pb)
                >= F.ceil(F.lit(t / (1.0 + t)) * (na + nb))
            ),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    sa = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("block"),
        F.col("__st").alias("__sa"),
    )
    sb = d.select(F.col("doc_id").alias("id_b"), F.col("__st").alias("__sb"))
    jac = F.size(F.array_intersect("__sa", "__sb")).cast("double") / F.size(
        F.array_union("__sa", "__sb")
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .where(jac >= t)
        .select(
            "id_a", "id_b", "block", stable_round(jac, 4).alias("jaccard")
        )
    )


def _lsh_md5_oracle() -> str:
    """Generated SQL for the md5-LSH candidate pairs oracle: the md5
    signature CTE (8 slots) banded 4×2; a pair is a candidate per band
    where BOTH band values match; n_shared_buckets counts such bands."""
    sig_select = _minhash_md5_oracle().replace("{toks}", _SIMHASH_TOKS_SQL)
    bands = "\n      UNION ALL ".join(
        f"SELECT doc_id, {k} AS band, s{2 * k} AS x, s{2 * k + 1} AS y FROM sig"
        for k in range(4)
    )
    return f"""
    WITH sig AS ({sig_select}),
    b AS (
      {bands}
    )
    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared_buckets
    FROM b a JOIN b c
      ON a.band = c.band AND a.x = c.x AND a.y = c.y
     AND a.doc_id < c.doc_id
    GROUP BY 1, 2
    """


@query("q_dedup_lsh_md5", oracle=_lsh_md5_oracle())
def q_dedup_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKABLE LSH candidate generation — the banding half of
    the MinHash-LSH pipeline proven end-to-end (extends the signature
    twin q_dedup_minhash_md5): 8-slot md5 signatures banded 4×2,
    bucketed, and paired with the SAME in-array pair generation the
    production tier uses (``operators/dedup.py::lsh_band_pairs``,
    hash-family-agnostic since round 4). DuckDB re-derives the pairs
    declaratively — per band, a candidate pair is two documents whose
    band slice matches exactly — so the hash match proves banding,
    bucketing, pair generation, AND the shared-bucket count against an
    independent implementation; with q_dedup_minhash_md5 (signatures)
    and q_dedup_clusters (components) this makes every stage of the
    near-dup pipeline oracle-checked in some hash family, while the
    xxhash64 OPH production tier keeps the recall/property tests."""
    from nyc_taxi_etl_pyspark_spark.operators.dedup import lsh_band_pairs
    from nyc_taxi_etl_pyspark_spark.functions.text import token_shingles

    k = 8
    d = load_table(spark, sf_dir, "documents")
    # repartition pre-md5: see q_dedup_minhash_md5 (scan width 1-2
    # splits starves the k-md5 stage; the groupBy reuses the exchange)
    sh = d.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).select("doc_id", tokens_col(F.col("text")).alias("__toks")).select(
        "doc_id",
        F.explode(
            F.array_distinct(token_shingles(F.col("__toks"), 3))
        ).alias("__sh"),
    )
    hashes = [
        F.conv(
            F.substring(F.md5(F.concat(F.col("__sh"), F.lit(f"|{i}"))), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias(f"__h{i}")
        for i in range(k)
    ]
    sigs = (
        sh.select("doc_id", *hashes)
        .groupBy("doc_id")
        .agg(
            F.array(*[F.min(f"__h{i}") for i in range(k)]).alias(
                "minhash_sig"
            )
        )
    )
    return lsh_band_pairs(sigs, "doc_id", num_hashes=k, bands=4)


def _lsh_md5_survivors_oracle() -> str:
    """Recursive-CTE oracle for survivors over the md5-LSH pair graph:
    the band-match pair derivation of _lsh_md5_oracle feeding the same
    components/survivor CTEs as the Jaccard chain."""
    sig_select = _minhash_md5_oracle().replace("{toks}", _SIMHASH_TOKS_SQL)
    bands = "\n      UNION ALL ".join(
        f"SELECT doc_id, {k} AS band, s{2 * k} AS x, s{2 * k + 1} AS y FROM sig"
        for k in range(4)
    )
    return f"""
    WITH RECURSIVE sig AS ({sig_select}),
    b AS (
      {bands}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM b a JOIN b c
        ON a.band = c.band AND a.x = c.x AND a.y = c.y
       AND a.doc_id < c.doc_id
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
      SELECT node, min(lbl) AS component FROM reach GROUP BY node
    )
    SELECT d.doc_id, d.source, d.lang
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    WHERE c.component IS NULL OR c.component = d.doc_id
    """


@query("q_dedup_lsh_md5_survivors", oracle=_lsh_md5_survivors_oracle())
def q_dedup_lsh_md5_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL near-dup pipeline oracle-checked in one query:
    md5-MinHash signatures → LSH band pairs (`lsh_band_pairs`) →
    connected components (iterative min-label propagation) → min-doc_id
    survivor per cluster plus every never-paired doc. The DuckDB oracle
    re-derives the identical chain declaratively (band-match pairs +
    recursive-CTE components), so signatures, banding, pair
    generation, the component fixpoint, and survivor selection are
    hash-proven END-TO-END — the strongest correctness statement the
    engine makes about its dedup surface; the xxhash64 OPH production
    chain (q_dedup_minhash_survivors) keeps the identical operators
    with the cheaper hash family."""
    from nyc_taxi_etl_pyspark_spark.operators.dedup import lsh_band_pairs
    from nyc_taxi_etl_pyspark_spark.functions.text import token_shingles

    k = 8
    d = load_table(spark, sf_dir, "documents")
    # repartition pre-md5: see q_dedup_minhash_md5 (scan width 1-2
    # splits starves the k-md5 stage; the groupBy reuses the exchange)
    sh = d.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).select("doc_id", tokens_col(F.col("text")).alias("__toks")).select(
        "doc_id",
        F.explode(
            F.array_distinct(token_shingles(F.col("__toks"), 3))
        ).alias("__sh"),
    )
    hashes = [
        F.conv(
            F.substring(F.md5(F.concat(F.col("__sh"), F.lit(f"|{i}"))), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias(f"__h{i}")
        for i in range(k)
    ]
    sigs = (
        sh.select("doc_id", *hashes)
        .groupBy("doc_id")
        .agg(
            F.array(*[F.min(f"__h{i}") for i in range(k)]).alias(
                "minhash_sig"
            )
        )
    )
    pairs = lsh_band_pairs(sigs, "doc_id", num_hashes=k, bands=4)
    return dedup_survivors(
        d, pairs, id_col="doc_id", pre_deduped=True
    ).select("doc_id", "source", "lang")
