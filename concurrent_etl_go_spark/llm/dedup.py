"""Deduplication operators over ``documents``: exact, normalized,
n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (100 TB): exact/normalized dedup are single hash-aggregations
on a derived key (no driver involvement); the near-dup operators avoid the
O(n²) cross join — candidates come from LSH band buckets (MinHash) or
16-bit chunk buckets (SimHash), so the join keys are narrow and the
verification join touches only candidate pairs. Blocking keys (lang) bound
the worst case for the exact-Jaccard oracle variant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.llm.text import kgram_index, normalize_text
from concurrent_etl_go_spark.operators.registry import query
from concurrent_etl_go_spark.sources.readers import read_table

NUM_MINHASHES = 32
LSH_BAND_SIZE = 4  # 8 bands of 4 -> catches jaccard >= ~0.7 reliably
SHINGLE_K = 3


def shingles_from_tokens(toks: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-token shingles from an already-tokenized array column.

    Take the token array as a materialized column (not an inline split
    expression): Catalyst inlines lambda-captured expressions at every
    reference, so an inline split would re-tokenize the document for each
    of the 3 element_at lookups per shingle.
    """
    idx = kgram_index(toks, k)
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]
            ),
        )
    )


def hashed_shingles_from_tokens(toks: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-token shingles hashed straight to int64 — the LSH hot path.

    The multi-arg ``xxhash64(tok_i, …, tok_{i+k-1})`` hashes the k tokens
    in one pass WITHOUT materializing the joined shingle string, so the
    pipeline never builds, dedups, persists, or re-hashes string arrays
    (measured ~2x on the sf0.1 band-table build vs the concat_ws form).
    Downstream Jaccard over the hash values equals string-shingle Jaccard
    up to 64-bit collisions (~n_shingles²/2⁶⁴ — negligible at any corpus
    size that fits an executor). Keep ``shingles_from_tokens`` for the
    oracle-facing queries where DuckDB must reproduce the exact strings.
    """
    idx = kgram_index(toks, k)
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.xxhash64(
                *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]
            ),
        )
    )


def shingles(col: Column | str, k: int = SHINGLE_K) -> Column:
    """Distinct k-token shingles ('w1 w2 w3') of a whitespace-tokenized doc.

    Convenience form for one-shot use; hot paths should tokenize into a
    column first and call ``shingles_from_tokens`` (see note there).
    """
    c = F.col(col) if isinstance(col, str) else col
    return shingles_from_tokens(F.split(c, " "), k)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array columns (distinct semantics)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / F.greatest(union, F.lit(1))


_MERSENNE_P = (1 << 31) - 1


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a, b) per permutation."""
    import random

    rng = random.Random(0xC0FFEE)
    return [
        (rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
        for _ in range(num_hashes)
    ]


def minhash_signature(
    shingle_col: Column, num_hashes: int = NUM_MINHASHES, prehashed: bool = False
) -> Column:
    """MinHash signature via universal hashing over one base hash.

    Each shingle is hashed ONCE (xxhash64, folded into [0, p) for the
    Mersenne prime p=2^31-1); permutation i is the multiply-add hash
    (a_i*h + b_i) mod p, whose operands stay < 2^62 — safe under ANSI
    overflow checking. One `transform` pass, map-side, no shuffle; 32
    permutations cost 32 multiply-adds per shingle instead of 32 string
    hashes. With ``prehashed=True`` the input is already an int64 hash
    array (see ``hashed_shingles_from_tokens``) and only the fold runs.
    """
    base = F.transform(
        shingle_col,
        lambda s: F.pmod(s if prehashed else F.xxhash64(s), F.lit(_MERSENNE_P)),
    )
    # ONE traversal with a num_hashes-wide running-min accumulator.  The
    # earlier form (one array_min(transform(...)) per permutation) names
    # ``base`` num_hashes times, and higher-order functions sit outside
    # whole-stage codegen's subexpression elimination — the pmod fold ran
    # 32x and 32 full-length intermediate arrays were materialized per
    # row (measured ~35% of the LSH pipeline's CPU at sf0.1).  Values
    # are bit-identical for every NON-EMPTY shingle array: same
    # coefficients, same modular arithmetic.  EMPTY-shingle behavior
    # differs from the pre-round-10 form (round-10 ADVICE): aggregate
    # returns the init — an array of _MERSENNE_P sentinels — where
    # array_min over an empty transform returned an array of NULLs.
    # The sentinel is the better contract (a min-hash no real shingle
    # can reach, so empty docs can never band-collide with anything,
    # and downstream zip_with/array_join never see NULL), but persisted
    # pre-round-10 signatures of empty/short docs are NOT comparable
    # bit-for-bit; every in-repo pipeline filters empty docs before
    # signing, so no registry query observes either value.
    coeffs = _minhash_coeffs(num_hashes)
    init = F.array_repeat(F.lit(_MERSENNE_P).cast("bigint"), num_hashes)
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[(h * a + b) % _MERSENNE_P for a, b in coeffs]),
            lambda x, y: F.least(x, y),
        ),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = NUM_MINHASHES,
    band_size: int = LSH_BAND_SIZE,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs via MinHash signatures + LSH banding.

    Pipeline: shingle -> signature -> explode bands -> self-join on
    (band_id, band_hash) -> verify candidates with exact Jaccard.
    The band join is an equi-join on a narrow key, so candidate generation
    scales linearly with data (plus bucket collisions), never O(n²).
    The shingle/band halves live in ``_band_table`` (shared with the
    incremental ingest variant below).
    """
    sh_df, bands = _band_table(docs, id_col, text_col, num_hashes, band_size)

    candidates = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    # Verification joins fetch the shingle sets only for candidate pairs.
    verified = (
        candidates.join(
            sh_df.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh_df.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .withColumn("jaccard", F.round(jaccard("sh_a", "sh_b"), 4))
    )
    return verified.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def simhash_bits(col: Column | str, bits: int = 64) -> Column:
    """SimHash bit-vote vector: for each bit position, sum of +/-1 votes from
    each token's xxhash64. One `aggregate` over token hashes — JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    token_hashes = F.transform(F.split(c, " "), lambda t: F.xxhash64(t))
    zero = F.array_repeat(F.lit(0), bits)
    # bit masks as long literals; bit 63 is the (negative) sign-bit mask
    masks = [(1 << i) if i < 63 else -(1 << 63) for i in range(bits)]
    votes = F.aggregate(
        token_hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(h.bitwiseAND(F.lit(m)) != 0, F.lit(1)).otherwise(
                        F.lit(-1)
                    )
                    for m in masks
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    return F.transform(votes, lambda v: (v > 0).cast("int"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: 64-bit fingerprints bucketed into four
    16-bit chunks (pigeonhole: hamming<=3 pairs share at least one chunk),
    chunk-equality join for candidates, exact hamming to verify."""
    fps = docs.select(
        F.col(id_col).alias("id"), simhash_bits(text_col).alias("bits")
    ).withColumn(
        "chunks",
        F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda cidx: F.struct(
                cidx.alias("chunk_id"),
                F.concat_ws(
                    "",
                    F.transform(
                        F.slice(F.col("bits"), (cidx * 16 + 1).cast("int"), 16),
                        lambda b: b.cast("string"),
                    ),
                ).alias("chunk_val"),
            ),
        ),
    )
    exploded = fps.select(
        "id", "bits", F.explode("chunks").alias("c")
    ).select("id", "bits", "c.chunk_id", "c.chunk_val")

    a, b = exploded.alias("a"), exploded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.bits").alias("bits_a"),
            F.col("b.bits").alias("bits_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.aggregate(
        F.zip_with("bits_a", "bits_b", lambda x, y: (x != y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        candidates.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------------------------
# Registered queries
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT text, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-aggregate on the full text, keeping the smallest
    doc_id per group (deterministic survivor choice)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


@query(
    "dedup_normalized",
    oracle="""
    SELECT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
               'g'), ' +', ' ', 'g')) AS norm_text,
           MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy(normalize_text("text").alias("norm_text")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


@query(
    "dedup_ngram_jaccard",
    scale_class="oracle_twin",  # blocked all-pairs; dedup_minhash_lsh scales
    oracle="""
    WITH sh AS (
        SELECT doc_id, lang,
               list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   for i in range(1, greatest(len(w) - 2, 0) + 1)]) AS shingles
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / greatest(len(list_distinct(
                     list_concat(a.shingles, b.shingles))), 1), 4) AS jaccard
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / greatest(len(list_distinct(
                    list_concat(a.shingles, b.shingles))), 1) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs, blocked on lang to bound
    the pair space; the MinHash-LSH variant below is the at-scale path."""
    docs = read_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", "lang", shingles("text").alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        jaccard(F.col("a.sh"), F.col("b.sh")).alias("j"),
    )
    return pairs.where(F.col("j") >= 0.5).select(
        "id_a", "id_b", F.round("j", 4).alias("jaccard")
    )


@query("dedup_minhash_lsh")  # LSH banding uses xxhash64 — not SQL-portable
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=0.5)


@query("dedup_simhash")  # xxhash64 fingerprints — not SQL-portable
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3)


def connected_components(
    pairs: DataFrame, max_iterations: int = 25
) -> DataFrame:
    """Connected components over a near-dup pair list: (id, component)
    where component = the smallest id reachable through pairs.

    Iterative min-label propagation with a POINTER-JUMPING step per round
    (component <- component[component], the large-star/small-star trick),
    so convergence needs O(log diameter) rounds instead of O(diameter) —
    a 1M-hop duplicate chain converges in ~20 rounds. Each round is one
    join + one union-aggregation + the jump join, and only the label SUM
    crosses the driver between rounds: labels are monotonically
    non-increasing, so the (overflow-proof decimal) sum strictly
    decreases until fixpoint — an exact convergence test with no
    old-vs-new comparison join. The initial labels already fold in the
    first propagation round (min of self and direct neighbors) as part of
    the dedup aggregation. This is the standard scalable CC shape
    (GraphX/GraphFrames propagate the same way) without a graph library.

    Runs to FIXPOINT (sum unchanged). If ``max_iterations`` rounds pass
    without convergence the function RAISES rather than silently returning
    split components — an unconverged label set would over-keep duplicates
    in a 'keep component == doc_id' survivor pass.
    """
    from concurrent_etl_go_spark.operators.graph import symmetric
    from concurrent_etl_go_spark.operators.registry import (
        release_df,
        track_cache,
    )

    edges = pairs.select(
        F.col(pairs.columns[0]).alias("src"), F.col(pairs.columns[1]).alias("dst")
    )
    sym = symmetric(edges).persist()
    # init = round 0's propagation for free: label(v) = min(v, neighbors)
    # in the same aggregation that dedups the node set
    labels = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.least(F.col("id"), F.min("dst")).alias("component"))
        .persist()
    )
    # sum(component) in decimal: int64 sums overflow (and ANSI-throw) once
    # id magnitude x node count crosses 2^63; decimal(38,0) never does at
    # any realistic corpus size
    label_sum = F.sum(F.col("component").cast("decimal(38,0)"))
    prev_sum = labels.agg(label_sum).first()[0]
    converged = False
    # the DataFrame owning the current labels' storage: release_df frees
    # checkpoint blocks only on the checkpointed frame itself (LogicalRDD
    # plan), not on projections over it
    storage = labels
    for _ in range(max_iterations):
        # each neighbor contributes its label to v; union with v's own
        # label and take the min — one aggregation replaces the
        # neighbor-min + left-join-back pair (null-free by construction)
        contrib = sym.join(labels, sym["dst"] == labels["id"]).select(
            F.col("src").alias("id"), "component"
        )
        propagated = (
            labels.unionByName(contrib)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer jumping: follow the label's own label one hop. Labels
        # are node ids and monotonically non-increasing, so the hop target
        # always exists and stays within the component.
        hop = propagated.select(
            F.col("id").alias("jid"), F.col("component").alias("jcomp")
        )
        # localCheckpoint (not persist): each round's plan references the
        # previous round's twice (propagate + jump), so without lineage
        # TRUNCATION the logical plan doubles per round and the driver
        # OOMs on analysis long before the data is large. Checkpointing
        # per iteration is exactly what GraphX/GraphFrames do.
        # lazy checkpoint + the convergence aggregate in ONE job: the sum
        # computes every partition of new_labels, so the checkpoint blocks
        # persist as a side effect of the probe (the eager form paid the
        # per-job scheduling floor twice per round)
        new_labels = (
            propagated.join(hop, propagated["component"] == hop["jid"], "left")
            .select(
                "id",
                F.coalesce("jcomp", "component").alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        new_sum = new_labels.agg(label_sum).first()[0]  # only driver traffic
        release_df(storage)  # frees persist AND prior-round checkpoint blocks
        storage = new_labels
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    sym.unpersist()
    if not converged:
        release_df(storage)
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "rounds — raise max_iterations (graph diameter exceeds 2^rounds)"
        )
    # the fixpoint labels stay checkpointed for the caller's terminal
    # action; the OWNING frame is tracked so release_caches() frees the
    # checkpoint blocks (not just the projection's SQL-cache entry)
    track_cache(storage)
    return labels


def _verified_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, component) connected-component labels over the VERIFIED
    near-dup pairs (``minhash_lsh_pairs`` at threshold 0.5) — the
    engine-hash clustering the production funnel and the total corpus
    labeling share.  Derived FRESH per call from the documents parquet
    (no cross-run persistence — every bench/oracle invocation computes
    from the inputs) and scoped-persisted for the consumers' repeated
    reads.  Document-dimension rows (matched docs only)."""
    from concurrent_etl_go_spark.operators.registry import scoped_persist

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5).select("id_a", "id_b")
    return scoped_persist(connected_components(pairs))


@query("dedup_components")  # iterative graph algorithm — rows-only check
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS over the MinHash-LSH near-dup graph, as a TOTAL
    labeling of the corpus: every document gets a component id, defaulting
    to its own doc_id when it appears in no near-dup pair. The survivor
    set for a 100 TB dedup pass is exactly ``component == doc_id`` — one
    row per cluster representative, isolated (unique) docs included."""
    docs = read_table(spark, sf_dir, "documents")
    labels = _verified_labels(spark, sf_dir)
    return (
        docs.select(F.col("doc_id").alias("id"))
        .join(labels, "id", "left")
        .select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
        .orderBy("id")
    )


def _band_table(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    band_size: int,
) -> tuple[DataFrame, DataFrame]:
    """(shingle table, band table) for a document set — the persisted
    index halves of the LSH pipeline, reusable across ingest batches.

    Band rows are narrow (id, band_id, band_hash) so candidate joins never
    shuffle shingle arrays. The repartition spreads the CPU-heavy shingle
    stage off single-split parquet files. Both halves are persisted for
    the query's execution and tracked for ``registry.release_caches()``.
    """
    from concurrent_etl_go_spark.operators.registry import scoped_persist

    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    sh_df = (
        docs.repartition(parallelism, F.col(id_col))
        .withColumn("__toks", F.split(F.col(text_col), " "))
        # docs shorter than k tokens have no shingles: their signature
        # would be all-NULL and band-collide with every other such doc;
        # they can never verify (jaccard 0), so drop them up front. Filter
        # on the TOKEN count, not size(sh) — a size(sh) predicate makes
        # Catalyst inline the shingle expression into the filter and
        # compute it twice (measured 4x on the full pipeline).
        .where(F.size("__toks") >= SHINGLE_K)
        .select(
            F.col(id_col).alias("id"),
            hashed_shingles_from_tokens(F.col("__toks")).alias("sh"),
        )
    )
    sh_df = scoped_persist(sh_df)
    sigs = sh_df.withColumn(
        "sig", minhash_signature(F.col("sh"), num_hashes, prehashed=True)
    )
    n_bands = num_hashes // band_size
    bands = sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    # hash the band's signature slots directly — multi-arg
                    # xxhash64 over int64s, no per-band string building
                    F.xxhash64(
                        *[
                            F.element_at(
                                F.col("sig"), (b * band_size + j + 1).cast("int")
                            )
                            for j in range(band_size)
                        ]
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("id", "band.band_id", "band.band_hash")
    return sh_df, scoped_persist(bands)


def minhash_lsh_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = NUM_MINHASHES,
    band_size: int = LSH_BAND_SIZE,
    threshold: float = 0.7,
) -> DataFrame:
    """Incremental near-dup check: match a NEW batch against an existing
    corpus (and within itself) WITHOUT re-pairing the corpus against
    itself — the production ingest shape for a continuously-growing
    100 TB dataset.

    Candidate generation joins the full band index against only the NEW
    side's bands, so corpus-corpus candidates are never generated: each
    ingest costs O(|new| x bands) probe rows against the corpus band
    index (which a real deployment persists bucketed by (band_id,
    band_hash) so the probe is a co-located join). Output: (id_a, id_b,
    jaccard, is_new_pair) where id_b is always a NEW doc and
    ``is_new_pair`` marks new-vs-new matches.
    """
    from concurrent_etl_go_spark.operators.registry import scoped_persist

    new_ids = scoped_persist(new_docs.select(F.col(id_col).alias("nid")))
    all_docs = corpus_docs.unionByName(new_docs)
    sh_all, bands_all = _band_table(
        all_docs, id_col, text_col, num_hashes, band_size
    )
    bands_new = bands_all.join(
        new_ids.withColumnRenamed("nid", "id"), "id"
    )

    candidates = (
        bands_all.alias("a")
        .join(
            bands_new.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = (
        candidates.join(
            sh_all.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh_all.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .withColumn("jaccard", F.round(jaccard("sh_a", "sh_b"), 4))
        .where(F.col("jaccard") >= threshold)
    )
    # canonicalize: keep one row per pair; for new-new pairs keep id_a < id_b
    tagged = verified.join(
        new_ids.select(F.col("nid").alias("id_a")).withColumn(
            "a_new", F.lit(True)
        ),
        "id_a",
        "left",
    ).withColumn("a_new", F.coalesce("a_new", F.lit(False)))
    return (
        tagged.where(~F.col("a_new") | (F.col("id_a") < F.col("id_b")))
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.col("a_new").alias("is_new_pair"),
        )
    )


@query("dedup_survivor_corpus")  # end-to-end dedup pass — rows-only check
def dedup_survivor_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus dedup deliverable in one pass: MinHash-LSH
    near-dup pairs -> connected components -> survivor filter.

    Output is the DEDUPLICATED corpus: one row per component
    representative (smallest doc_id in its duplicate cluster — the
    deterministic survivor rule), unique docs included, with the cluster
    size carried for audit. At 100 TB each stage is the production shape
    already proven separately (banded candidate join; counter-only
    convergence loop; one broadcast-able label join back to the corpus);
    this query exists because "run the whole funnel" is the actual user
    operation, and stitching errors between stages are where dedup
    pipelines silently lose documents — the pytest invariant checks
    survivors + removed == corpus exactly.
    """
    docs = read_table(spark, sf_dir, "documents")
    labels = _verified_labels(spark, sf_dir)
    total = (
        docs.select(F.col("doc_id").alias("id"), "lang", "n_chars")
        .join(labels, "id", "left")
        .select(
            "id",
            "lang",
            "n_chars",
            F.coalesce("component", F.col("id")).alias("component"),
        )
    )
    cluster_sizes = total.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        total.where(F.col("id") == F.col("component"))
        .join(cluster_sizes, "component")
        .select(
            F.col("id").alias("doc_id"),
            "lang",
            "n_chars",
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )
