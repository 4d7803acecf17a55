"""Deduplication operators (SURVEY.md §2.12 — LLM-data-pipeline core).

Four tiers, all shuffle-bounded (no O(n²) all-pairs stage anywhere):

- exact:          one hash-aggregate shuffle on the key.
- n-gram Jaccard: blocked all-pairs within small explicit groups (for
                  oracle-checkable verification at test scale).
- MinHash + LSH:  shingle → k minhashes → band buckets → join only within
                  buckets. The 100 TB near-dup path: candidate pairs are
                  linear-ish in data size, tunable by (k, bands).
- SimHash:        64-bit fingerprint, bucket by rotated prefixes; Hamming
                  filter within buckets.

Determinism: every "keep one per group" decision is an explicit
``row_number() == 1`` over a total order — never ``dropDuplicates``,
whose survivor depends on partition scan order.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window

from nyc_taxi_etl_pyspark_spark.functions.rounding import stable_round
from pyspark.sql import functions as F

from nyc_taxi_etl_pyspark_spark.functions.text import token_shingles, tokens_col


def dedup_exact(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[str]
) -> DataFrame:
    """Keep exactly one row per ``keys`` group: the first under
    ``order_by`` (deterministic alternative to the reference-era
    ``dropDuplicates``). One shuffle; no driver involvement."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_ngram_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All candidate pairs within a blocking group whose token-shingle
    Jaccard ≥ threshold. Exact (set-based) Jaccard via
    ``array_intersect`` / ``array_union`` — fully Catalyst, oracle-checkable.

    The explicit ``block_col`` keeps the pair space quadratic only within
    blocks; for unblocked 100 TB corpora use ``minhash_lsh_dedup`` below,
    which *discovers* blocks via LSH instead of requiring one.

    Plan shape — inverted index, NOT per-pair array math: explode distinct
    shingles to a posting list, self-join on (block, shingle) so
    |intersection| falls out of a count aggregate, then recover
    |union| = |A| + |B| − |inter| from per-doc shingle counts. Replaces
    the naive all-pairs ``array_intersect`` (quadratic per-pair array
    scans, interpreted) with shuffle joins on codegen'd longs — measured
    ~20× at bench scale. Any pair with Jaccard ≥ threshold > 0 shares at
    least one shingle, so the candidate set is exactly equivalent.
    """
    n_part = df.sparkSession.sparkContext.defaultParallelism
    shingled = (
        df.repartition(n_part, id_col)
        .withColumn("__toks", tokens_col(F.col(text_col)))
        .select(
            F.col(id_col),
            F.col(block_col).alias("__blk"),
            F.array_distinct(token_shingles(F.col("__toks"), shingle_n)).alias("__sh"),
        )
        .select(
            F.col(id_col),
            F.col("__blk"),
            F.size("__sh").alias("__sz"),
            # hash shingle strings once: downstream join/agg keys are longs.
            # explode_OUTER: see minhash_signatures on InferFiltersFromGenerate.
            F.explode_outer(F.transform("__sh", lambda s: F.xxhash64(s))).alias(
                "__shash"
            ),
        )
        .filter(F.col("__shash").isNotNull())
    )
    a = shingled.select(
        F.col(id_col).alias("id_a"), "__blk", F.col("__sz").alias("__sz_a"), "__shash"
    )
    b = shingled.select(
        F.col(id_col).alias("id_b"), "__blk", F.col("__sz").alias("__sz_b"), "__shash"
    )
    inter = (
        a.join(b, on=["__blk", "__shash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "__blk", "__sz_a", "__sz_b")
        .agg(F.count("*").alias("__inter"))
    )
    union = F.col("__sz_a") + F.col("__sz_b") - F.col("__inter")
    jac = F.when(
        union > 0, F.col("__inter").cast("double") / union.cast("double")
    ).otherwise(F.lit(0.0))
    return inter.select(
        "id_a", "id_b", F.col("__blk").alias("block"), stable_round(jac, 4).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """k-minhash signature per document:
    minhash_i(doc) = min over shingles of xxhash64(xxhash64(shingle), i).

    Plan shape (all whole-stage-codegen'd, one shuffle):

    1. repartition by id — aligns with the final groupBy so the explode +
       hash map work parallelizes across cores AND the aggregate reuses
       the partitioning (no second exchange);
    2. materialize the token array, shingle it (HOF lambdas inline their
       argument expression per element — passing the raw tokenization
       expression re-runs split/filter per shingle, measured 10×);
    3. hash each shingle string ONCE (one string xxhash64), then derive
       the k-hash family as xxhash64(h, seed) over the resulting long
       INLINE in each min() aggregate's input (round 15: the wide
       k-column projection materialized |shingles|×k UnsafeRow cells
       before the aggregate; narrow (id, h) rows with inline
       extraction measured 0.92 → 0.74 s warm at sf1 — the r13-era
       "nested-in-agg expressions run interpreted" claim did not
       survive re-measurement, same finding as simhash_dedup);
    4. k min aggregates with map-side partial combine — shuffle
       volume is |docs|×k longs, not |shingles|.

    Deterministic across runs/clusters (xxhash64 is seeded, no RNG).
    """
    n_part = df.sparkSession.sparkContext.defaultParallelism
    shingles = F.array_distinct(token_shingles(F.col("__toks"), shingle_n))
    # explode_OUTER + isNotNull, not plain explode: InferFiltersFromGenerate
    # would otherwise clone the whole shingle expression into a filter
    # below the repartition — re-evaluating it per row in the narrow
    # pre-shuffle stage (measured 4×).
    hashed = (
        df.repartition(n_part, id_col)
        .withColumn("__toks", tokens_col(F.col(text_col)))
        .select(F.col(id_col), F.explode_outer(shingles).alias("__shingle"))
        .filter(F.col("__shingle").isNotNull())
        .select(F.col(id_col), F.xxhash64("__shingle").alias("__h"))
    )
    return hashed.groupBy(id_col).agg(
        F.array(
            *[
                F.min(F.xxhash64("__h", F.lit(i)))
                for i in range(num_hashes)
            ]
        ).alias("minhash_sig")
    )


def minhash_signatures_oph(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """One-permutation-hashing (OPH) minhash signatures (Li, Owen, Zhang
    2012): hash each shingle ONCE, scatter into ``num_hashes`` buckets by
    ``h mod k``, and take the per-bucket min — k signature slots from ONE
    hash per shingle instead of k (k× less hash CPU than
    ``minhash_signatures``; measured 4× end-to-end at sf0.1, and the gap
    is pure per-shingle compute so it holds at any scale). Empty buckets
    (docs with < k distinct shingles) are densified deterministically:
    slot i borrows the doc's ``i mod |nonempty|``-th non-empty minimum,
    so identical shingle sets still yield identical signatures and
    similar sets borrow similarly (the locality banding needs). Same
    output schema as ``minhash_signatures``; plug-compatible with the
    banding in ``minhash_lsh_dedup``.
    """
    n_part = df.sparkSession.sparkContext.defaultParallelism
    shingles = F.array_distinct(token_shingles(F.col("__toks"), shingle_n))
    hashed = (
        df.repartition(n_part, id_col)
        .withColumn("__toks", tokens_col(F.col(text_col)))
        .select(F.col(id_col), F.explode_outer(shingles).alias("__shingle"))
        .filter(F.col("__shingle").isNotNull())
        .select(
            F.col(id_col),
            F.xxhash64("__shingle").alias("__h"),
        )
        .withColumn("__b", F.pmod("__h", F.lit(num_hashes)))
    )
    # ONE groupBy(id) with k conditional mins — reuses the repartition(id)
    # partitioning (no second exchange; a groupBy(id, bucket) pre-agg was
    # measured SLOWER end-to-end because (id, bucket) partitioning cannot
    # serve the final per-id gather). Each row evaluates k comparisons —
    # cheap next to the k xxhash64 calls this scheme avoids.
    sparse = hashed.groupBy(id_col).agg(
        *[
            F.min(F.when(F.col("__b") == i, F.col("__h"))).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    )
    vals = F.array(*[F.col(f"__m{i}") for i in range(num_hashes)])
    dense = F.transform(
        F.col("__vals"),
        lambda x, i: F.coalesce(
            x,
            F.element_at(
                "__nonempty", F.pmod(i, F.size("__nonempty")) + F.lit(1)
            ),
        ),
    )
    return (
        sparse.withColumn("__vals", vals)
        .withColumn(
            "__nonempty", F.filter(F.col("__vals"), lambda x: x.isNotNull())
        )
        .select(F.col(id_col), dense.alias("minhash_sig"))
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    scheme: str = "kmin",
    max_bucket: int | None = 64,
) -> DataFrame:
    """MinHash-LSH candidate pairs: band the k-hash signature into
    ``bands`` groups of k/bands rows, bucket on (band_id, band_hash), and
    emit distinct candidate pairs that share ≥1 bucket.

    This PRODUCTION front door caps giant buckets by default
    (``max_bucket=64``: larger buckets emit star edges only — see
    :func:`lsh_band_pairs`, which itself defaults to EXACT pairing);
    components and the dedup→CC→survivors chain are unchanged, only
    the raw pair set for mass-duplicated boilerplate shrinks from
    O(bucket²) to O(bucket). Pass ``max_bucket=None`` for exact
    all-pairs semantics.

    Scale shape: explode is ``bands``×|docs| rows; pairs are generated
    per (band, bucket) group via collect_list + in-array combination —
    ONE pass over the signatures (a bucket self-join would recompute the
    whole signature pipeline for each side and add a join shuffle) and
    only rows sharing a bucket ever pair up — the standard LSH trade
    (recall vs candidate volume) tuned by (num_hashes, bands) and the
    signature ``scheme`` ("kmin" = k independent hash families, "oph" =
    one-permutation hashing — k× less hash CPU, see
    ``minhash_signatures_oph``). Giant
    buckets (mass-duplicated docs) are inherently hot keys either way;
    band-level parallelism spreads them across ``bands`` tasks. Returns
    (id_a, id_b, n_shared_buckets); feed survivors into exact Jaccard to
    drop false positives.
    """
    sig_fn = {"kmin": minhash_signatures, "oph": minhash_signatures_oph}[scheme]
    sigs = sig_fn(df, id_col, text_col, num_hashes, shingle_n)
    return lsh_band_pairs(
        sigs, id_col, num_hashes=num_hashes, bands=bands,
        max_bucket=max_bucket,
    )


def lsh_band_pairs(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    sig_col: str = "minhash_sig",
    max_bucket: int | None = None,
) -> DataFrame:
    """Band a (id, signature-array) frame and emit candidate pairs —
    the hash-family-agnostic half of ``minhash_lsh_dedup`` (xxhash64
    OPH signatures in production; the md5 twin for the oracle-checked
    tier). The bucket id hashes the band SLICE only to shrink the
    groupBy key; equality of slices is what pairs docs, so any
    collision-free-enough hash yields identical pairs.

    DEFAULT IS EXACT: every bucket pairs all-pairs, so the emitted
    (id_a, id_b, n_shared_buckets) set matches the documented/oracle
    all-pairs semantics at any scale — a silent cap here would make
    the oracle-checked twins diverge the moment test data grows a
    >cap bucket.

    GIANT-BUCKET CAP (OPT-IN, ``max_bucket=64`` via the production
    front door ``minhash_lsh_dedup``): buckets up to ``max_bucket``
    members pair exactly (all-pairs within the bucket, O(cap²)
    bounded); larger buckets — mass-duplicated boilerplate, the single
    most common real dedup input — emit only STAR edges (bucket-min,
    member), O(bucket) output rows. Star edges preserve connected
    components exactly (every member reaches the bucket min), so the
    dedup→CC→survivors chain is unchanged; only the raw candidate-PAIR
    set (and the ``n_shared_buckets`` counts) for >cap buckets is
    reduced, which is the point — an uncapped 10k-duplicate bucket
    expands to 5×10⁷ pairs in one task. The branch is a ``when(size ≤
    cap, all-pairs, star)`` EXPRESSION over the same single
    collect_list aggregation the uncapped path uses — zero extra
    shuffles/joins (a stats-join variant measured +1.3 s fixed
    overhead per call at bench scale). Residual exposure: the giant
    bucket's id ARRAY still materializes in one aggregation buffer —
    O(bucket) memory, linear (≈200 MB at 10M string ids, spill-backed
    ObjectHashAggregate), vs the O(bucket²) expansion the cap removes.
    Use :func:`lsh_capped_buckets` on the same signature frame to
    account for which buckets a capped run reduced."""
    rows_per_band = num_hashes // bands
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at(sig_col, b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    # SORTED bucket arrays make both pair tiers one uniform expression
    # (round 11, closing the r10 "+30% cap cost" note): element i pairs
    # with the slice AFTER it, so id_a < id_b falls out of the sort
    # order (no least/greatest per pair), and the giant-bucket star
    # tier is just "only i = 0 gets a non-empty slice" — the bucket MIN
    # pairing with every member, the same star edges as before, with no
    # whole-branch ``when`` duplicating the expansion expression.
    # Measured at sf0.1: survivors chain ~3.0 s → ~2.7 s, pair set
    # byte-identical (asserted in tests on both the capped and exact
    # tiers). sort_array is O(b log b) per bucket — noise next to the
    # O(b²)/O(b) expansion it feeds.
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    sz = F.size("__ids")
    # build inside transform so the element INDEX drives the tier:
    # exact (every i) when the bucket is small or uncapped, star
    # (only i == 0, the sorted min) when capped and large.
    pair_structs = F.flatten(
        F.transform(
            "__ids",
            lambda x, i: F.transform(
                F.slice(
                    "__ids",
                    i + 2,
                    sz
                    if max_bucket is None
                    else F.when(
                        (sz <= F.lit(max_bucket)) | (i == 0), sz
                    ).otherwise(F.lit(0)),
                ),
                lambda y: F.struct(
                    x.alias("id_a"), y.alias("id_b")
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("__p"))
        .select("__p.id_a", "__p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_buckets"))
    )


def lsh_capped_buckets(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    sig_col: str = "minhash_sig",
    max_bucket: int = 64,
) -> DataFrame:
    """Accounting twin of :func:`lsh_band_pairs`: one row per (band,
    bucket) whose membership exceeded ``max_bucket`` — i.e. the
    buckets whose candidate pairs were reduced to star edges. Empty
    frame ⇒ the capped run's pair set is IDENTICAL to the uncapped
    one. Run it when a dedup job must report what the cap dropped."""
    rows_per_band = num_hashes // bands
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at(sig_col, b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") > max_bucket)
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    pre_deduped: bool = False,
    include_roots: bool = True,
    single_task_max_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over an undirected pair list — the step
    between "near-dup candidate pairs" and "keep one document per
    duplicate cluster". Returns (node, component) where ``component`` is
    the MIN node id in the component (deterministic, engine-neutral).

    Alternating LARGE-STAR / SMALL-STAR (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — converges in
    O(log n) alternations on ANY graph shape, vs O(diameter) for plain
    min-label propagation. Near-dup graphs are overwhelmingly tiny
    cliques (either converges in 2-3 rounds), but a 100 TB corpus with
    one chain-shaped cluster (template documents that each near-match
    only their neighbors) would stall a diameter-bound loop for
    hundreds of driver-paced rounds; star contraction bounds it at
    ~log₂(n). Each round is two join+aggregate shuffles over the
    CURRENT edge set, which only contracts toward the star forest:

    - large-star: every node u links each strictly-GREATER neighbor to
      ``m(u) = min(Γ(u) ∪ {u})`` — long tails fold onto local minima;
    - small-star: on the (greater → smaller) edge list, every node u
      links its not-greater neighbors (and itself) to its minimum —
      local stars re-root on their smallest member.

    The fixpoint is a star forest rooted at each component's MIN node,
    which is exactly the (node, component) contract the DuckDB
    recursive-CTE oracle for ``q_dedup_clusters`` checks — the oracle
    pins the fixpoint, not the schedule. ``localCheckpoint`` truncates
    lineage each round — at cluster scale switch to ``checkpoint()``
    with a reliable checkpoint dir so a lost executor can't force a
    full recompute.
    """
    # Canonicalize ONCE to (greater, smaller) pairs and materialize:
    # ``edges`` is typically the tail of the whole minhash→LSH
    # pipeline, and every star round joins it — without this, round k
    # re-runs signature hashing and banding k times over (measured:
    # the survivors query drops ~3× end-to-end). Self-loops carry no
    # connectivity; nulls can't be ranked.
    a, b = F.col(src), F.col(dst)
    # ONE eager checkpoint for the whole derivation (self-loops kept
    # here so a node appearing only as (x, x) still labels (x, x)):
    # everything downstream — the node set, the working edge set, and
    # every star round — reads these checkpointed partitions, so the
    # expensive upstream (typically the minhash→LSH candidate tail)
    # executes exactly once. Round 15 re-examined the r14 "canon
    # checkpoint floor" note: folding this materialization into round
    # 1's convergence-agg job (eager=False, like each round's e_new)
    # removes the standalone job but measured NO wall improvement at
    # sf0.1 (alternating A/B ×4 sessions: survivors 3.81/3.84 eager vs
    # 3.69/3.91 lazy, semantic 2.83/2.85 eager vs 3.02/3.08 lazy) —
    # the tail executes exactly once either way, and the eager job's
    # planning overlaps round-1 plan construction. Kept eager.
    # ``pre_deduped=True`` (round 14): the pair producers feeding the
    # dedup chains (lsh_band_pairs' groupBy(id_a, id_b) output,
    # cosine_pairs_within_group's one-block-per-vector pairs) already
    # emit each undirected pair exactly once — the .distinct() here
    # re-shuffled an already-distinct set before the checkpoint. The
    # canonical (greater, smaller) projection stays (map-side, free);
    # correctness with duplicate edges is unaffected either way (the
    # per-round minima are duplicate-insensitive and the first round's
    # distinct restores set semantics), the flag only skips a shuffle
    # the producer has provably already paid.
    canon = edges.filter(a.isNotNull() & b.isNotNull()).select(
        F.greatest(a, b).alias("__a"), F.least(a, b).alias("__b")
    )
    if not pre_deduped:
        canon = canon.distinct()
    canon = canon.localCheckpoint(eager=True)
    # Scale-adaptive algorithm choice (round 15, guide §1.2: the
    # theoretically cheapest execution for a SMALL graph is one task,
    # not a distributed fixpoint). Near-dup edge lists are tiny
    # relative to the corpus (256 edges at sf0.1, O(10³-10⁴) at sf1),
    # yet every star round paid 2 driver-paced jobs + 3 exchanges over
    # default-parallelism partitions — ~1 s of pure per-stage overhead
    # per round on 256 rows. The count is one cheap job over the
    # partitions the eager checkpoint just materialized, and the
    # threshold is DATA-adaptive, not a local-mode constant: ≤1M edges
    # is ~2 s / ~150 MB of in-task union-find (measured), far below
    # executor task budgets, while a 100 TB corpus whose edge list
    # outgrows it keeps the O(log n) star-contraction loop unchanged.
    # Same (node, MIN-id component) contract — pinned in tests against
    # the loop on both fixture and synthetic graphs.
    if canon.count() <= single_task_max_edges:
        id_t = canon.schema["__a"].dataType.simpleString()
        comp = canon.groupBy(F.lit(0).alias("__g")).applyInPandas(
            lambda pdf: _unionfind_label(pdf, "__a", "__b"),
            f"node {id_t}, component {id_t}",
        )
        if include_roots:
            return comp
        # the star-forest labeling never emits (root, root) rows; the
        # union-find labels every node — drop roots to match.
        return comp.filter(F.col("node") != F.col("component"))
    # Every endpoint, remembered up front: edges CONTRACT to the star
    # forest, where roots appear only on the right — the label pass at
    # the end must still emit (root, root). Lazy: reads the checkpoint.
    nodes = (
        canon.select(F.col("__a").alias("node"))
        .unionByName(canon.select(F.col("__b").alias("node")))
        .distinct()
    )
    e = canon.filter(F.col("__a") != F.col("__b"))
    w = Window.partitionBy("__a")
    converged = False
    for _ in range(max_iter):
        # LARGE-STAR over the undirected neighborhood: the per-node
        # neighborhood minimum m(u) = min(Γ(u) ∪ {u}) is a WINDOW min
        # (one exchange), not a groupBy + self-join (round 14, guide
        # §2.4: the groupBy/join spelling shuffled nbrs twice per star
        # and planned two extra operators per round — 4 exchanges per
        # round → 3). Output edges (v, m(u)) for v > u keep the
        # canonical greater→smaller form (v > u ≥ m(u)), so no
        # re-canonicalization shuffle is needed. No intermediate
        # distinct: duplicates don't change per-key minima and the
        # final distinct restores set semantics.
        nbrs = e.unionByName(
            e.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"))
        )
        ls = (
            nbrs.withColumn(
                "__m", F.least(F.min("__b").over(w), F.col("__a"))
            )
            .where(F.col("__b") > F.col("__a"))
            .select(F.col("__b").alias("__a"), F.col("__m").alias("__b"))
        )
        # SMALL-STAR on the (greater → smaller) list: per node, every
        # incident smaller neighbor AND the node itself re-link to the
        # minimum (already < every __a on this side) — window min again.
        sm = ls.withColumn("__m", F.min("__b").over(w))
        e_new = (
            sm.where(F.col("__b") != F.col("__m"))
            .select(F.col("__b").alias("__a"), F.col("__m").alias("__b"))
            .unionByName(
                sm.select(F.col("__a"), F.col("__m").alias("__b"))
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        # Convergence: STOP when e_new IS the star forest, detected
        # STRUCTURALLY on this round's output instead of by comparing
        # with the previous round (round 14 — the fixpoint compare
        # needed one extra full verify round; tiny-clique graphs that
        # contract in a single round paid three). Both ops maintain the
        # greater→smaller invariant on every edge, so e_new is a star
        # forest rooted at each component's MIN — i.e. the exact
        # fixpoint (it maps to itself under both stars) — iff
        #   (1) every __a appears exactly once
        #       (count == count_distinct(__a)), and
        #   (2) no __b also appears as an __a (no chains — checked by
        #       a left-semi join, only when (1) already holds).
        # The agg job doubles as the checkpoint materializer; the
        # check is exact (no fingerprint probabilism).
        row = e_new.agg(
            F.count(F.lit(1)).alias("__n"),
            F.count_distinct(F.col("__a")).alias("__nd"),
        ).first()
        if row["__n"] == row["__nd"] and (
            e_new.select("__b")
            .join(
                e_new.select(F.col("__a").alias("__b")),
                "__b",
                "left_semi",
            )
            .limit(1)
            .count()
            == 0
        ):
            e = e_new
            converged = True
            break
        e = e_new
    comp = e.select(
        F.col("__a").alias("node"), F.col("__b").alias("component")
    )
    if not converged:
        # only if max_iter truncated a pathological graph early can a
        # node still carry several candidate labels (best-effort, same
        # contract as the propagation loop had); at the fixpoint each
        # non-root appears exactly once and the extra shuffle is waste
        comp = comp.groupBy("node").agg(
            F.min("component").alias("component")
        )
    if not include_roots:
        # round 14: the SURVIVORS consumers decide "keep row" as
        # (component IS NULL OR component == id) on a LEFT join — a
        # root with no comp row takes the NULL branch exactly like a
        # never-paired row, so the (root, root) rows (and the node-set
        # distinct + left-anti join that produce them) change nothing
        # for them; include_roots=False skips that work. Consumers
        # that RETURN the labeling (q_dedup_clusters) keep the default.
        return comp
    roots = nodes.join(
        comp.select("node"), "node", "left_anti"
    ).withColumn("component", F.col("node"))
    return comp.unionByName(roots)


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
    pre_deduped: bool = False,
) -> DataFrame:
    """Deduplicated corpus: cluster the near-dup ``pairs`` and keep, per
    duplicate cluster, only the canonical member (min id) — plus every
    row that was never part of any pair. The final output of the whole
    near-dup pipeline (pairs → components → surviving rows).
    ``pre_deduped`` forwards to :func:`connected_components` — pass
    True when the pair producer provably emits each undirected pair
    once (the LSH/cosine group generators do). Root rows are skipped
    in the labeling (include_roots=False): the left-join NULL branch
    below keeps them identically."""
    comp = connected_components(
        pairs,
        src=src,
        dst=dst,
        pre_deduped=pre_deduped,
        include_roots=False,
    )
    return (
        df.join(comp, df[id_col] == comp["node"], "left")
        .filter(F.col("component").isNull() | (F.col("component") == df[id_col]))
        .drop("node", "component")
    )


def block_local_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    block_col: str = "block",
) -> DataFrame:
    """(node, component) labeling for a pair list whose edges NEVER
    cross ``block_col`` — the SemDeDup case, where every vector has
    exactly one Voronoi cell and pairs are generated within cells, so
    components are provably cell-contained and the GLOBAL star-
    contraction loop (driver-paced rounds: canon checkpoint, two
    window shuffles + a convergence agg per round, a semi-join check —
    measured 3.8 s warm per 20k-vector micro-batch at sf1, ~2 s of it
    rounds) collapses to ONE groupBy(block) + an in-task union-find
    per block (round 15, guide §1.2: change the algorithm before the
    knobs). Component label = MIN node id, exactly
    :func:`connected_components`' contract (equality pinned in tests);
    blocks are bounded by the caller's contract (auto_n_cells sizes
    cells to ~2k rows; a block's edge list already materialized
    through the pair stage), so the per-task state is the block's
    node set — NOT corpus-scale. Roots are labeled (node == component
    rows included); consumers' keep-filter treats them like the NULL
    branch."""
    id_t = pairs.schema[src].dataType.simpleString()
    out_schema = f"node {id_t}, component {id_t}"

    return (
        pairs.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(src, dst, block_col)
        .groupBy(block_col)
        .applyInPandas(
            lambda pdf: _unionfind_label(pdf, src, dst), out_schema
        )
    )


def _unionfind_label(pdf, src: str, dst: str):
    """In-task union-find over one edge-list pandas frame →
    (node, component) with component = MIN member id — the same
    labeling contract as :func:`connected_components` (equality pinned
    in tests). Shared by :func:`block_local_components` (one call per
    block) and the small-graph single-task path of
    :func:`connected_components`. Self-loops register the node;
    duplicate edges are no-ops."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf[src], pdf[dst]):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    # component = MIN member id (the engine-wide canonical label)
    comp_min: dict = {}
    roots = {n: find(n) for n in parent}
    for n, r in roots.items():
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    nodes = list(parent)
    return pd.DataFrame(
        {"node": nodes, "component": [comp_min[roots[n]] for n in nodes]}
    )


def semantic_cells(
    vectors: DataFrame,
    vec_col: str,
    dim: int,
    n_cells: int = 8,
    cell_col: str = "cell",
) -> DataFrame:
    """Assign every vector to a SEMANTIC CELL: argmin squared-L2
    distance to ``n_cells`` md5-derived random anchors (the
    cross-engine-derivable stand-in for a k-means coarse quantizer —
    a random-anchor Voronoi partition is exactly k-means' init step,
    and the anchors re-derive in any engine with md5(), same
    discipline as ``md5_rp_planes``). Map-only over the data (never a
    shuffle of the vectors): one vectorized pandas_udf
    (``rp_arrow.md5_cell_udf``, guide §4.2) whose distances are strict
    left folds in component order — the summation order of the DuckDB
    oracles' ``list_reduce``, so the cells replay bit-identically
    there.

    Contract: ties break to the LOWEST anchor index (first position of
    the min — deterministic and engine-neutral on bit-identical
    doubles)."""
    from nyc_taxi_etl_pyspark_spark.operators.rp_arrow import md5_cell_udf

    return vectors.withColumn(
        cell_col,
        md5_cell_udf(n_cells, dim)(F.col(vec_col).cast("array<double>")),
    )


def auto_n_cells(n_vectors: int, target_cell_rows: int = 2048) -> int:
    """Scale-adaptive cell count for :func:`semantic_dedup`: enough
    cells that the EXPECTED cell holds ~``target_cell_rows`` vectors.
    Within-cell pair checking costs Σ|cell|² ≈ N²/n_cells, so a FIXED
    cell count is a quadratic scale hazard (the r13/r14 verdicts'
    carried item); cells sized to ~10³-10⁴ vectors keep the blocked
    join linear-ish in N (SemDeDup itself uses ~10⁵ clusters at LAION
    scale). 10× corpus ⇒ ~10× cells ⇒ per-cell pair cost flat."""
    import math

    return max(1, math.ceil(n_vectors / max(1, target_cell_rows)))


def semantic_dedup(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_cells: int | None = None,
    threshold: float = 0.3,
    return_pairs: bool = False,
    target_cell_rows: int = 2048,
) -> DataFrame:
    """SemDeDup-shaped EMBEDDING near-dedup (Abbas et al. 2023,
    arXiv:2303.09540 — cluster the embedding space, call pairs
    duplicates only WITHIN a cluster): :func:`semantic_cells` partitions
    the corpus into ``n_cells`` Voronoi cells (map-only), within-cell
    pairs above the cosine ``threshold`` become edges
    (``cosine_pairs_within_group`` — the pair space is Σ|cell|², never
    N²), and the standard chain resolves them: O(log n) star-contraction
    components → min-id survivors (``dedup_survivors``). Returns the
    surviving rows of ``vectors`` plus their ``cell``; with
    ``return_pairs=True``, the intermediate edge list (id_a, id_b,
    block=cell, cosine_sim).

    At 100 TB: ``n_cells`` scales with the corpus (SemDeDup uses ~10⁵
    k-means clusters for LAION-scale; here anchors are md5-derived so a
    DuckDB oracle replays the whole pipeline) — per-cell pair cost is
    (N/n_cells)² · n_cells = N²/n_cells, so cells sized to ~10³-10⁴
    vectors keep the blocked join linear-ish in N while the cell
    assignment itself stays one map-only pass.

    ``n_cells=None`` (default since round 15) derives that scaling
    AUTOMATICALLY: one count job over ``vectors`` sizes the corpus and
    :func:`auto_n_cells` targets ~``target_cell_rows`` vectors/cell —
    10× the corpus gets ~10× the cells, per-cell pair cost flat. The
    ORACLE-CHECKED queries pin ``n_cells=8`` explicitly (the DuckDB
    oracle replays that exact anchor family), so auto-scaling the
    default changes no declared query's results."""
    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        cosine_pairs_within_group,
        pair_split_factor,
    )

    import math

    n_rows = vectors.count()  # one bounded job (no UDF in the scan);
    # sizes auto n_cells and the tiling decision below
    if n_cells is None:
        n_cells = auto_n_cells(n_rows, target_cell_rows)

    with_cell = semantic_cells(
        vectors, vec_col, dim, n_cells, cell_col="__cell"
    )
    if not return_pairs:
        # with_cell has TWO consumers below (the pair stage and the
        # survivors join's left side) and sits behind an arrow UDF with
        # no exchange, so without materialization the cell assignment
        # and the base scan execute twice in the final plan (round 15,
        # guide §5: cut the duplicated subtree, ~0.3-2 s per 20k-row
        # micro-batch). return_pairs consumers read it once — no
        # checkpoint there.
        with_cell = with_cell.localCheckpoint(eager=True)
    # Tile the pair stage ONLY when cells are large (round 15, guide
    # §2.5): the oracle-pinned n_cells=8 ran the whole quadratic pair
    # stage on 8 of 32 cores for 6-10 s at sf1 (7.5k-row cells);
    # tiling took it to 1.1-1.7 s with a byte-identical pair set. For
    # small cells (≲2× the target size) the extra explode+shuffle
    # costs more than the 1-task-per-cell matmul (+0.25 s measured at
    # sf0.1), and in the auto_n_cells regime cells never outgrow the
    # target — so the factor is 1 there by construction.
    cell_rows = n_rows / max(1, n_cells)
    n_splits = 1
    if cell_rows > 2 * target_cell_rows:
        n_splits = min(
            pair_split_factor(
                n_cells,
                vectors.sparkSession.sparkContext.defaultParallelism,
            ),
            math.ceil(cell_rows / target_cell_rows),
        )
    pairs = cosine_pairs_within_group(
        with_cell,
        id_col=id_col,
        vec_col=vec_col,
        block_col="__cell",
        threshold=threshold,
        n_splits=n_splits,
    )
    if return_pairs:
        return pairs
    # Components are CELL-LOCAL here (one cell per vector, pairs
    # generated within cells), so the generic star-contraction loop is
    # replaced by the shuffle-free-per-round block labeling (round 15,
    # see block_local_components — identical (node, min-id component)
    # output, pinned in tests); the keep-filter below is byte-for-byte
    # dedup_survivors' (roots hit `component == id`, never-paired rows
    # the NULL branch).
    df = with_cell.withColumnRenamed("__cell", "cell")
    comp = block_local_components(pairs)
    return (
        df.join(comp, df[id_col] == comp["node"], "left")
        .filter(
            F.col("component").isNull() | (F.col("component") == df[id_col])
        )
        .drop("node", "component")
    )


# SimHash bands: the 64-bit fingerprint is split into this many
# ``prefix_bits``-wide bands; pairs are blocked on a shared band.
SIMHASH_N_BANDS = 4


def simhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hamming_threshold: int = 3,
    prefix_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup candidates: 64-bit token-weighted fingerprint,
    blocked on 4 rotated ``prefix_bits`` prefixes (two fingerprints within
    Hamming distance d share at least one of 4 bands untouched when
    d ≤ 3), Hamming-filtered within blocks via ``bit_count(a XOR b)``.
    """
    # classic simhash: per-bit vote (+1 if the token hash has the bit set,
    # −1 otherwise), fingerprint bit = sign of the vote. Same plan shape
    # as minhash_signatures: repartition by id (parallel map work + no
    # second exchange), hash each token once, then 64 sums with map-side
    # combine. The bit extraction lives INLINE in each sum's input
    # expression (round 15): the former spelling materialized a
    # 64-int-column row per token occurrence before the aggregate —
    # 12 M × 64 UnsafeRow cells at sf1, measured 4.5 s for the votes
    # stage vs 1.3 s with the narrow (id, hash) rows feeding inline
    # extractions (the r13-era comment claiming nested-in-agg
    # expressions run interpreted did not survive re-measurement).
    # Integer sums of the same ±1 terms — bit-identical votes.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    hashed = (
        df.repartition(n_part, id_col)
        .withColumn("__toks", tokens_col(F.col(text_col)))
        .select(F.col(id_col), F.explode_outer("__toks").alias("__tok"))
        .filter(F.col("__tok").isNotNull())
        .select(F.col(id_col), F.xxhash64("__tok").alias("__h"))
    )
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftrightunsigned(F.col("__h"), bit)
                .bitwiseAND(F.lit(1))
                .cast("int")
                * 2
                - 1
            ).alias(f"__v{bit}")
            for bit in range(64)
        ]
    )
    fingerprint = None
    for bit in range(64):
        bit_val = F.when(
            F.col(f"__v{bit}") > 0, F.shiftleft(F.lit(1).cast("long"), bit)
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = bit_val if fingerprint is None else fingerprint + bit_val
    sim = votes.select(F.col(id_col), fingerprint.alias("simhash"))

    bands = []
    for band in range(SIMHASH_N_BANDS):
        shift = band * prefix_bits
        bands.append(
            F.struct(
                F.lit(band).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), shift)
                .bitwiseAND(F.lit((1 << prefix_bits) - 1))
                .alias("prefix"),
            )
        )
    # Pair generation per (band, prefix) bucket as a CODEGEN'D
    # self-join (round 15, guide §4.1/§2.5). The previous spelling —
    # collect_list per bucket + nested transform/slice/flatten HOFs —
    # evaluated every one of the Σ|bucket|² candidate comparisons in
    # INTERPRETED lambda calls inside single-task buckets (~6 s of the
    # 7.2 s sf1 warm wall, 6.5 M emitted pairs); the equi-join on
    # (band, prefix) produces the identical unordered-pair multiset
    # (id_a < id_b once per shared bucket, distinct dedups across
    # bands) through whole-stage-codegen'd hashing, and AQE's skew
    # handling splits hot buckets instead of one task eating the
    # largest collect_list. ``sim`` is checkpointed — tiny (one
    # (id, fingerprint) row per doc) — so the 64-sum vote aggregate
    # runs once, not once per join side.
    sim = sim.localCheckpoint(eager=True)
    blocked = sim.select(
        id_col, "simhash", F.explode(F.array(*bands)).alias("bb")
    ).select(id_col, "simhash", "bb.band", "bb.prefix")
    a = blocked.select(
        "band",
        "prefix",
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("__sa"),
    )
    b = blocked.select(
        "band",
        "prefix",
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("__sb"),
    )
    # Every pair is emitted from its FIRST shared band only: which
    # bands a pair shares is recomputable from the two fingerprints
    # right on the joined row, so `band == first shared band` keeps
    # exactly one copy per pair — the global `.distinct()` (a full
    # re-shuffle of the multi-million-row pair multiset, up to 4×
    # duplicated across bands) disappears outright (guide §2.4).
    mask = F.lit((1 << prefix_bits) - 1)

    def _pfx(col, j):
        return F.shiftrightunsigned(col, j * prefix_bits).bitwiseAND(mask)

    first_shared = F.lit(SIMHASH_N_BANDS - 1)
    for j in range(SIMHASH_N_BANDS - 2, -1, -1):
        first_shared = F.when(
            _pfx(F.col("__sa"), j) == _pfx(F.col("__sb"), j), F.lit(j)
        ).otherwise(first_shared)
    return (
        a.join(b, ["band", "prefix"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("band") == first_shared)
        )
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= hamming_threshold)
    )
