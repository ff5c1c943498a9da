"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (T-Scan analyses documents independently);
these are the corpus-preparation operators a 100 TB tokenized corpus
needs before feature extraction, built Spark-first:

- exact dedup        : md5(text) hash-groupBy (one shuffle on the hash,
                       perfectly parallel, no skew — hash keys uniform)
- n-gram Jaccard     : shingle inverted-index self-join with a
                       **document-frequency cap** (posting lists of hot
                       shingles are dropped from candidate generation —
                       the standard pruning that stops one stop-word
                       shingle from making the join quadratic), then
                       exact Jaccard verification over the FULL shingle
                       sets (the cap affects recall only, never the
                       reported Jaccard value)
- MinHash + LSH      : shingle -> content-hash id -> 16 universal-hash
                       minima computed in ONE groupBy pass (16 aggregate
                       columns — no crossJoin row blowup, no global id
                       window) -> banded buckets -> candidates -> exact
                       verify. All arithmetic ((a*sid+b) mod P) so the
                       DuckDB oracle replays it bit-for-bit.
- SimHash            : 60-bit signature (31+29-bit halves so every
                       intermediate stays in signed-64 range on both
                       engines); near-dup pairs via 4x15-bit band
                       buckets (pigeonhole: hamming<=3 pairs share >=1
                       band; 2^15 bucket values per band keeps candidate
                       lists short at corpus scale — the round-1 16-bit
                       /4-bit-band variant degenerated toward all-pairs),
                       verified with exact xor/bit_count hamming.

Determinism: every hash is explicit integer arithmetic; every float is
fixed-point; every tie is broken by (doc_id_a, doc_id_b) ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tscan_spark import corpus

SHINGLE_N = 3
JACCARD_THRESHOLD = 0.25
SHINGLE_DF_CAP = 50  # posting-list prune: shingles in > cap docs are not candidates
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
NUM_HASHES = 16
NUM_BANDS = 4  # 4 rows per band
# 60-bit simhash: lo = (h31*A1+B1) mod 2^31, hi = (h31*A2+B2) mod 2^29
SIMHASH_BITS = 60
SIMHASH_LO_BITS = 31
SIMHASH_A1 = 40503
SIMHASH_B1 = 1299721
SIMHASH_A2 = 69621
SIMHASH_B2 = 823543
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15  # 60 / 4; 2^15 bucket values per band
SIMHASH_MAX_HAMMING = 3


def simhash_band_bits_for(n_docs: int, target_bucket: int = 1024) -> int:
    """Cardinality-derived band width for the simhash bucket join.

    Budget math: each band partitions the corpus into 2^bits buckets,
    so a band's self-join costs ~n * (n / 2^bits) pairs. Target bucket
    occupancy ``target_bucket`` gives bits = ceil(log2(n / target)) —
    e.g. 10^9 docs => 20 bits/band. The pigeonhole guarantee needs
    SIMHASH_MAX_HAMMING+1 = 4 bands, so bits > SIMHASH_BITS/4 requires
    a WIDER signature (e.g. 96-bit from three 32-bit halves — same
    construction as the 60-bit lo/hi split); this helper caps at the
    current signature and the caller widens SIMHASH_BITS when it
    saturates. The registered demo query pins 15 bits because the
    DuckDB oracle string is static.
    """
    import math

    want = math.ceil(math.log2(max(2, n_docs) / target_bucket))
    return max(4, min(SIMHASH_BITS // SIMHASH_BANDS, want))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.load(spark, sf_dir, "documents")


# CACHE CONTRACT: see tscan_spark.cache — a couple of dedup queries
# persist their shared shingle subtree (the plan consumes it 2-4x and
# exchange reuse does not cover it; measured: dropping the persist cost
# +60% on minhash_lsh at sf0.1); the caller unpersists after consuming.
from tscan_spark.cache import carry_caches, release_caches, with_cache as _with_cache  # noqa: F401


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: md5(text) -> (representative, dup count)."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
        .select("text_hash", "keep_doc_id", F.col("dup_cnt").cast("long").alias("dup_cnt"))
    )


SQL_EXACT_DEDUP = """
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS dup_cnt
FROM documents
GROUP BY md5(text)"""


# ---------------------------------------------------------------------------
# shingles (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------


def shingles_raw(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Positional (non-distinct) word n-gram shingles: (doc_id, shingle).

    Pure narrow array expression over the document's own token array —
    the tokens of one document already sit in order inside its ``text``
    row, so the former lead()-over-Window construction paid a full
    shuffle + sort of the token grain for an ordering the scan provides
    for free (guide §2.4: remove shuffles outright). Zero Exchange.
    Built from arrays_zip over n shifted slices (all codegen) rather
    than per-position lambdas: a transform/slice HOF variant measured
    4x slower (interpreted per element), this one is at parity with the
    old window locally and strictly better on plan shape.

    Duplicate-insensitive consumers (minhash MIN, the verify's
    collect_set) take this form directly and skip the distinct
    exchange; set-algebra consumers distinct on the 64-bit sid instead
    of the ~30-char string (guide §2.3: shuffle narrow keys)."""
    arr = F.array_remove(F.split(F.col("text"), " "), "")
    m = F.size(arr) - (n - 1)
    z = F.arrays_zip(*[F.slice(arr, i + 1, m) for i in range(n)])
    sh = documents.select(
        "doc_id", F.explode(F.when(F.size(arr) >= n, z)).alias("z")
    )
    return sh.select(
        "doc_id",
        F.concat_ws(" ", *[F.col("z").getField(str(i)) for i in range(n)]).alias(
            "shingle"
        ),
    )


SQL_SHINGLES_CTE = """
sh AS (
    SELECT DISTINCT doc_id, word || ' ' || w1 || ' ' || w2 AS shingle
    FROM (
        SELECT doc_id, word,
               lead(word, 1) OVER (PARTITION BY doc_id ORDER BY word_idx) AS w1,
               lead(word, 2) OVER (PARTITION BY doc_id ORDER BY word_idx) AS w2
        FROM tok
    )
    WHERE w2 IS NOT NULL
)"""


def _verified_jaccard(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs against the FULL shingle sets.

    Physical strategy: each doc's (distinct) shingle set is collected
    ONCE into a sorted array — bounded by document length — and the
    candidate pairs pick up both arrays by two equi-joins on the doc
    key; ``array_intersect`` then computes the exact overlap inside
    codegen. This avoids the candidate x shingle row blowup of the
    naive plan (|cand| * |shingles per doc| intermediate rows — 59M at
    sf0.1, the round-2 profiling hotspot); volume stays |cand| rows.
    """
    # arrays of 64-bit shingle hashes, not strings: the join output
    # materializes each doc's array once per candidate appearance, so
    # element width dominates; xxhash64 ids are engine-internal only
    # (the emitted jaccard is over set sizes, identical unless two of a
    # doc's shingles collide in 64 bits)
    arrs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_set(F.xxhash64("shingle"))).alias("arr")
    )
    j = cand.join(
        arrs.select(F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a")),
        "doc_a",
    ).join(
        arrs.select(F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b")),
        "doc_b",
    )
    n_common = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = n_common / (F.size("arr_a") + F.size("arr_b") - n_common)
    return j.select(
        "doc_a",
        "doc_b",
        n_common.cast("long").alias("n_common"),
        F.round(jac, 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """Near-duplicate pairs by exact shingle-set Jaccard.

    Light/heavy posting-list split (standard pruning, made EXACT):

    - shingles in <= SHINGLE_DF_CAP docs ("light") drive candidate
      generation AND their pair-common counts in ONE self-join +
      groupBy — no separate verification pass over the full sets (the
      round-2 profiling hotspot: candidate x shingle-set joins
      materialized 59M intermediate rows);
    - shingles in > cap docs ("heavy") are few by construction; each
      doc's heavy memberships form a SHORT array (<= |heavy|), joined
      onto the candidate pairs and intersected in codegen — the exact
      correction the usual prune silently drops.

    A pair sharing only heavy shingles is not a candidate (one
    stop-shingle shared by k docs would otherwise cost k^2/2 rows — the
    quadratic corpus-scale killer); every EMITTED jaccard is exact over
    the full sets.

    ``sh``: optional pre-built (persisted) string shingle frame shared
    with a sibling pipeline (dedup_recall_eval builds it once for both
    the exact and the LSH side — guide §2.4, one fewer corpus pass);
    its cache is owned by the caller.
    """
    j, sh = _pair_overlaps(spark, sf_dir, sh_str=sh)
    n_common = F.col("n_common")
    jac = n_common / (F.col("n_a") + F.col("n_b") - n_common)
    out = j.select(
        "doc_a",
        "doc_b",
        n_common.cast("long").alias("n_common"),
        F.round(jac, 6).alias("jaccard"),
    )
    return _with_cache(out.where(F.col("jaccard") >= JACCARD_THRESHOLD), sh)


def _pair_overlaps(
    spark: SparkSession, sf_dir: str, sh_str: DataFrame | None = None
):
    """Shared exact-overlap core of the shingle pair family: candidate
    pairs from light posting lists + exact heavy correction.  Returns
    (pairs with n_common/n_a/n_b, persisted shingle handle) — callers
    own the final measure/filter AND the cache release (_with_cache).

    ``sh_str``: optional pre-built POSITIONAL (non-distinct) shingle
    frame (persisted by the caller); when given, the sid frame derives
    from it instead of re-running the shingle construction."""
    # all set algebra runs on 64-bit shingle ids: narrow join keys and
    # shuffle rows instead of ~30-char strings (ids are engine-internal;
    # a cross-shingle collision would need ~2^32 distinct shingles —
    # the same convention the verify's collect_set-of-hashes already
    # uses). The per-doc DISTINCT therefore runs on the 8-byte sid, not
    # the string (guide §2.3: fewer shuffle bytes, cheaper compares).
    # persist: the subtree feeds 4 consumers and exchange reuse does not
    # dedupe it — see the cache contract on _with_cache
    if sh_str is None:
        sh_str = shingles_raw(_docs(spark, sf_dir))
    sh = (
        sh_str.select("doc_id", F.xxhash64("shingle").alias("sid"))
        .distinct()
        .persist()
    )
    df_dim = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("_df"))
    heavy = df_dim.where(F.col("_df") > SHINGLE_DF_CAP).select("sid")
    light = sh.join(F.broadcast(heavy), "sid", "left_anti")
    a, b = light.alias("a"), light.alias("b")
    common_light = (
        a.join(b, "sid")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_light"))
    )
    heavy_arrs = (
        sh.join(F.broadcast(heavy), "sid")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("sid")).alias("harr"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # doc-grain dim (sizes + heavy membership): deliberately NOT
    # hint-broadcast — it is doc-count-sized, so at corpus scale this
    # must be a shuffle join on the doc key; AQE converts it to a
    # runtime broadcast when the aggregate is actually small (it is
    # here and in any single-node run)
    doc_dim = sizes.join(heavy_arrs, "doc_id", "left")
    j = common_light.join(
        doc_dim.select(
            F.col("doc_id").alias("doc_a"),
            F.col("n_sh").alias("n_a"),
            F.col("harr").alias("harr_a"),
        ),
        "doc_a",
    ).join(
        doc_dim.select(
            F.col("doc_id").alias("doc_b"),
            F.col("n_sh").alias("n_b"),
            F.col("harr").alias("harr_b"),
        ),
        "doc_b",
    )
    n_heavy = F.when(
        F.col("harr_a").isNotNull() & F.col("harr_b").isNotNull(),
        F.size(F.array_intersect("harr_a", "harr_b")),
    ).otherwise(F.lit(0))
    out = j.select(
        "doc_a",
        "doc_b",
        (F.col("n_light") + n_heavy).cast("long").alias("n_common"),
        "n_a",
        "n_b",
    )
    return out, sh


# Containment (near-superset) pairs: Jaccard under-reports when one doc
# nearly contains another but is much larger (|A∩B|/|A∪B| is small even
# at |A∩B| = |A|).  Containment c(A) = |A∩B|/|A| catches it — the
# standard asymmetric-dup measure for quote/boilerplate/partial-copy
# detection.  Same candidate machinery and exactness guarantees as
# ngram_jaccard_pairs.
CONTAINMENT_THRESHOLD = 0.8


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs where either side's shingle containment >= threshold.

    Output: doc_a, doc_b, n_common, cont_a, cont_b, max_cont.
    """
    j, sh = _pair_overlaps(spark, sf_dir)
    cont_a = F.col("n_common") / F.col("n_a")
    cont_b = F.col("n_common") / F.col("n_b")
    out = j.select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.round(cont_a, 6).alias("cont_a"),
        F.round(cont_b, 6).alias("cont_b"),
        F.round(F.greatest(cont_a, cont_b), 6).alias("max_cont"),
    )
    return _with_cache(
        out.where(F.greatest(cont_a, cont_b) >= CONTAINMENT_THRESHOLD), sh
    )


def sql_containment_pairs() -> str:
    return (
        "WITH "
        + corpus.SQL_TOK_CTE.strip()
        + ",\n"
        + SQL_SHINGLES_CTE.strip()
        + f""",
idx AS (
    SELECT doc_id, shingle
    FROM (SELECT *, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
    WHERE df <= {SHINGLE_DF_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM idx a JOIN idx b USING (shingle)
    WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
    SELECT doc_a, doc_b, COUNT(*) AS n_common
    FROM cand
    JOIN sh a ON a.doc_id = doc_a
    JOIN sh b ON b.doc_id = doc_b AND b.shingle = a.shingle
    GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       CAST(n_common AS BIGINT) AS n_common,
       ROUND(n_common / sa.n_sh, 6) AS cont_a,
       ROUND(n_common / sb.n_sh, 6) AS cont_b,
       ROUND(greatest(n_common / sa.n_sh, n_common / sb.n_sh), 6) AS max_cont
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE greatest(n_common / sa.n_sh, n_common / sb.n_sh) >= {CONTAINMENT_THRESHOLD}"""
    )


def sql_ngram_jaccard() -> str:
    return (
        "WITH "
        + corpus.SQL_TOK_CTE.strip()
        + ",\n"
        + SQL_SHINGLES_CTE.strip()
        + f""",
idx AS (
    SELECT doc_id, shingle
    FROM (SELECT *, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
    WHERE df <= {SHINGLE_DF_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM idx a JOIN idx b USING (shingle)
    WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
    SELECT doc_a, doc_b, COUNT(*) AS n_common
    FROM cand
    JOIN sh a ON a.doc_id = doc_a
    JOIN sh b ON b.doc_id = doc_b AND b.shingle = a.shingle
    GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       CAST(n_common AS BIGINT) AS n_common,
       ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_THRESHOLD}"""
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# universal-hash parameters (a_j, b_j) — compile-time constants folded
# straight into the aggregate expressions (no parameter-table crossJoin)
HASH_AB = [(1 + 7919 * j, 104729 * j + 12345) for j in range(NUM_HASHES)]


def minhash_signatures(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """Wide signature row per doc: (doc_id, mh_0 .. mh_15).

    Shingle ids are content hashes (per-row expression — the round-1
    global dense_rank window is gone) and all 16 minima come out of ONE
    hash aggregation over (doc_id) — 1x the shingle volume through the
    shuffle instead of 16x.
    """
    if sh is None:
        sh = shingles_raw(_docs(spark, sf_dir))
    # duplicate shingle occurrences are harmless here: MIN over a
    # multiset equals MIN over its set, so no distinct pass is needed
    doc_sid = sh.select(
        "doc_id", corpus.content_hash_expr("shingle").alias("sid")
    )
    aggs = [
        F.min((F.col("sid") * a + b) % MINHASH_P).alias(f"mh_{j}")
        for j, (a, b) in enumerate(HASH_AB)
    ]
    return doc_sid.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """LSH candidate pairs -> exact Jaccard verification.

    Bands of NUM_HASHES/NUM_BANDS rows; candidates share an identical
    band signature; every candidate is verified with the exact shingle
    Jaccard, so output quality does not depend on the sketch.

    ``sh``: optional pre-built POSITIONAL shingle frame, already
    persisted by the caller (cache ownership stays with the caller).
    Both consumers are duplicate-insensitive (signature MINs, the
    verify's collect_set), so no distinct pass is paid anywhere in
    this pipeline.
    """
    # the shingle subtree feeds signatures and the verify join — persist
    # it once (cache contract: see _with_cache)
    own_cache = sh is None
    if sh is None:
        sh = shingles_raw(_docs(spark, sf_dir)).persist()
    sigs = minhash_signatures(spark, sf_dir, sh=sh)
    rpb = NUM_HASHES // NUM_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bnd).alias("band"),
                F.concat_ws(
                    ",", *[F.col(f"mh_{bnd * rpb + i}") for i in range(rpb)]
                ).alias("band_key"),
            )
            for bnd in range(NUM_BANDS)
        ]
    )
    banded = sigs.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["band", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    out = _verified_jaccard(cand, sh).drop("n_common")
    return _with_cache(out, sh) if own_cache else out


def sql_minhash_lsh_pairs() -> str:
    rpb = NUM_HASHES // NUM_BANDS
    min_cols = ",\n           ".join(
        f"MIN((sid * {a} + {b}) % {MINHASH_P}) AS mh_{j}"
        for j, (a, b) in enumerate(HASH_AB)
    )
    band_rows = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {bnd} AS band, {key} AS band_key FROM sigs".format(
            bnd=bnd,
            key=" || ',' || ".join(f"mh_{bnd * rpb + i}" for i in range(rpb)),
        )
        for bnd in range(NUM_BANDS)
    )
    return (
        "WITH "
        + corpus.SQL_TOK_CTE.strip()
        + ",\n"
        + SQL_SHINGLES_CTE.strip()
        + f""",
doc_sid AS (
    SELECT doc_id, {corpus.sql_content_hash("shingle")} AS sid FROM sh
),
sigs AS (
    SELECT doc_id,
           {min_cols}
    FROM doc_sid
    GROUP BY doc_id
),
banded AS (
{band_rows}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b USING (band, band_key)
    WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
    SELECT doc_a, doc_b, COUNT(*) AS n_common
    FROM cand
    JOIN sh a ON a.doc_id = doc_a
    JOIN sh b ON b.doc_id = doc_b AND b.shingle = a.shingle
    GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b"""
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_h_expr():
    """60-bit per-token hash from the 31-bit content hash.

    lo/hi halves keep every multiply under 2^48 — both engines stay in
    signed-64 arithmetic (DuckDB raises on BIGINT overflow, so the
    bound is load-bearing, not cosmetic).
    """
    h31 = corpus.content_hash_expr("word")
    lo = (h31 * SIMHASH_A1 + SIMHASH_B1) % (2**SIMHASH_LO_BITS)
    hi = (h31 * SIMHASH_A2 + SIMHASH_B2) % (2 ** (SIMHASH_BITS - SIMHASH_LO_BITS))
    return hi * (2**SIMHASH_LO_BITS) + lo


def _sql_simhash_h() -> str:
    h31 = corpus.sql_content_hash("word")
    return (
        f"(({h31}) * {SIMHASH_A2} + {SIMHASH_B2}) "
        f"% {2 ** (SIMHASH_BITS - SIMHASH_LO_BITS)} * {2**SIMHASH_LO_BITS} "
        f"+ (({h31}) * {SIMHASH_A1} + {SIMHASH_B1}) % {2**SIMHASH_LO_BITS}"
    )


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document over token content hashes.

    Bit b of a token's hash votes +1/-1 (term frequency weights fall out
    of voting at token grain); signature bit = majority (> 0). One
    groupBy(doc_id) computes all 60 bit-vote sums as aggregate columns —
    no bit-table crossJoin, no row blowup: the plan is scan -> partial
    agg -> final agg.
    """
    tok = corpus.tokens_long(_docs(spark, sf_dir))
    t = tok.select("doc_id", _simhash_h_expr().alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"s_{bit}")
        for bit in range(SIMHASH_BITS)
    ]
    agg = t.groupBy("doc_id").agg(*votes)
    sig = None
    for bit in range(SIMHASH_BITS):
        term = F.when(F.col(f"s_{bit}") > 0, F.lit(1 << bit).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return agg.select("doc_id", sig.alias("simhash"))


def _sql_simhash_ctes() -> str:
    vote_cols = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {bit}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{bit}"
        for bit in range(SIMHASH_BITS)
    )
    sig_terms = "\n             + ".join(
        f"CASE WHEN s_{bit} > 0 THEN {1 << bit}::BIGINT ELSE 0::BIGINT END"
        for bit in range(SIMHASH_BITS)
    )
    return (
        corpus.SQL_TOK_CTE.strip()
        + f""",
t AS (
    SELECT doc_id, {_sql_simhash_h()} AS h
    FROM tok
),
votes AS (
    SELECT doc_id,
           {vote_cols}
    FROM t
    GROUP BY doc_id
),
shs AS (
    SELECT doc_id,
           CAST({sig_terms} AS BIGINT) AS simhash
    FROM votes
)"""
    )


def sql_simhash_docs() -> str:
    return "WITH " + _sql_simhash_ctes() + "\nSELECT doc_id, simhash FROM shs"


def simhash_pairs(
    spark: SparkSession, sf_dir: str, band_bits: int | None = None
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= SIMHASH_MAX_HAMMING.

    Band trick: 4 bands of ``band_bits``; hamming<=3 pairs must agree
    on at least one band (pigeonhole), so the self-join runs per band
    bucket — never all-pairs. ``band_bits`` defaults to the
    oracle-pinned 15; production callers derive it from corpus
    cardinality via :func:`simhash_band_bits_for` (budget math there).
    Verified with exact bit_count(xor).
    """
    if band_bits is None:
        band_bits = SIMHASH_BAND_BITS
    sh = simhash_docs(spark, sf_dir)
    bands = spark.range(SIMHASH_BANDS).select(F.col("id").cast("int").alias("band"))
    banded = sh.crossJoin(F.broadcast(bands)).withColumn(
        "band_val",
        F.expr(
            f"(simhash >> (band * {band_bits})) & {(1 << band_bits) - 1}"
        ),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["band", "band_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def sql_simhash_pairs() -> str:
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return (
        "WITH "
        + _sql_simhash_ctes()
        + f""",
banded AS (
    SELECT doc_id, simhash, CAST(b.band AS INT) AS band,
           (simhash >> (CAST(b.band AS INT) * {SIMHASH_BAND_BITS})) & {mask} AS band_val
    FROM shs CROSS JOIN range({SIMHASH_BANDS}) b(band)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sh_a, b.simhash AS sh_b
    FROM banded a JOIN banded b USING (band, band_val)
    WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_MAX_HAMMING}"""
    )


# ---------------------------------------------------------------------------
# Exact substring-span dedup (Lee et al. 2022 "Deduplicating Training Data
# Makes Language Models Better" — the suffix-array exact-substring family,
# re-expressed as duplicated fixed-length gram spans)
# ---------------------------------------------------------------------------
#
# A position p in a document is "duplicated" when the SPAN_K-gram starting
# at p occurs more than once anywhere in the corpus (including elsewhere in
# the same document).  Overlapping duplicated grams merge into maximal
# spans; the per-document verdict is the span count, the duplicated-token
# count/fraction, and the token count that survives span removal.
#
# Physical plan: one lag/lead window per document (sorted locally after a
# single shuffle on doc_id), one corpus-wide hash aggregate on gram_id
# (count > 1 — the inverted index; no posting-list join, so no quadratic
# term: unlike the Jaccard family we only need each gram's multiplicity,
# never its pairing), one shuffle join back on gram_id, then island
# merging with doc-bounded windows.  Every stage is linear in corpus
# size; gram ids use the 31-bit replayable content hash here (oracle
# constraint) — at 100 TB swap in xxhash64, same plan.

SPAN_K = 15  # gram length in tokens (Lee et al. use 50 BPE tokens)


def _span_grams(documents: DataFrame) -> DataFrame:
    """(doc_id, pos, gram_id) for every SPAN_K-gram with its position.

    Narrow array construction (no Window shuffle — same rationale as
    :func:`shingles_raw`); ``pos`` keeps the RAW split index of the gram's
    first token (the tokens_long word_idx contract counts empty-string
    positions too), so the raw positions ride along the empty filter
    and the gram text is assembled by arrays_zip over SPAN_K shifted
    slices (codegen, no per-gram lambda)."""
    k = SPAN_K
    raw = F.split(F.col("text"), " ")
    zs = F.filter(
        F.arrays_zip(raw, F.sequence(F.lit(0), F.size(raw) - 1)),
        lambda s: s["0"] != "",
    )
    words = F.transform(zs, lambda s: s["0"])
    poss = F.transform(zs, lambda s: s["1"])
    m = F.size(words) - (k - 1)
    z = F.arrays_zip(F.slice(poss, 1, m), *[F.slice(words, i + 1, m) for i in range(k)])
    g = documents.select(
        "doc_id", F.explode(F.when(F.size(words) >= k, z)).alias("g")
    )
    gram = F.concat_ws(" ", *[F.col("g").getField(str(i + 1)) for i in range(k)])
    return g.select(
        "doc_id",
        F.col("g").getField("0").cast("int").alias("pos"),
        corpus.content_hash_expr(gram).alias("gram_id"),
    )


def substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-span statistics.

    Output: doc_id, n_tok, n_dup_spans, dup_token_cnt, dup_frac,
    kept_token_cnt (docs with no duplicated span appear with zeros).
    """
    docs = corpus.load(spark, sf_dir, "documents")
    tok = corpus.tokens_long(docs)
    grams = _span_grams(docs)
    dup_ids = grams.groupBy("gram_id").agg(F.count(F.lit(1)).alias("n")).where(
        F.col("n") > 1
    )
    hits = grams.join(dup_ids.select("gram_id"), "gram_id")
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hits.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos") > F.coalesce(F.lag("pos").over(w) + SPAN_K - 1, F.lit(-1)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "doc_id",
        "pos",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island_id"),
    )
    span = islands.groupBy("doc_id", "island_id").agg(
        (F.max("pos") - F.min("pos") + SPAN_K).alias("span_len")
    )
    per_doc = span.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
        F.sum("span_len").cast("long").alias("dup_token_cnt"),
    )
    ntok = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    out = ntok.join(per_doc, "doc_id", "left")
    return out.select(
        "doc_id",
        "n_tok",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("dup_token_cnt", F.lit(0)).cast("long").alias("dup_token_cnt"),
        F.round(F.coalesce("dup_token_cnt", F.lit(0)) / F.col("n_tok"), 6).alias(
            "dup_frac"
        ),
        (F.col("n_tok") - F.coalesce("dup_token_cnt", F.lit(0)))
        .cast("long")
        .alias("kept_token_cnt"),
    )


def sql_substring_spans() -> str:
    leads = ",\n               ".join(
        f"lead(word, {i}) OVER (PARTITION BY doc_id ORDER BY word_idx) AS w{i}"
        for i in range(1, SPAN_K)
    )
    concat = " || ' ' || ".join(["word"] + [f"w{i}" for i in range(1, SPAN_K)])
    return (
        "WITH "
        + corpus.SQL_TOK_CTE.strip()
        + f""",
grams AS (
    SELECT doc_id, pos, {corpus.sql_content_hash(f"({concat})")} AS gram_id
    FROM (
        SELECT doc_id, word_idx AS pos, word,
               {leads}
        FROM tok
    )
    WHERE w{SPAN_K - 1} IS NOT NULL
),
dup_ids AS (
    SELECT gram_id FROM grams GROUP BY gram_id HAVING COUNT(*) > 1
),
hits AS (
    SELECT g.doc_id, g.pos FROM grams g JOIN dup_ids USING (gram_id)
),
flagged AS (
    SELECT doc_id, pos,
           CASE WHEN pos > coalesce(lag(pos) OVER (PARTITION BY doc_id
                                                   ORDER BY pos) + {SPAN_K} - 1, -1)
                THEN 1 ELSE 0 END AS new_island
    FROM hits
),
islands AS (
    SELECT doc_id, pos,
           SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island_id
    FROM flagged
),
span AS (
    SELECT doc_id, island_id, MAX(pos) - MIN(pos) + {SPAN_K} AS span_len
    FROM islands GROUP BY doc_id, island_id
),
per_doc AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(span_len) AS BIGINT) AS dup_token_cnt
    FROM span GROUP BY doc_id
),
ntok AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok GROUP BY doc_id
)
SELECT n.doc_id, n.n_tok,
       CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(p.dup_token_cnt, 0) AS BIGINT) AS dup_token_cnt,
       round(coalesce(p.dup_token_cnt, 0) * 1.0 / n.n_tok, 6) AS dup_frac,
       CAST(n.n_tok - coalesce(p.dup_token_cnt, 0) AS BIGINT) AS kept_token_cnt
FROM ntok n LEFT JOIN per_doc p ON p.doc_id = n.doc_id
"""
    )


# ---------------------------------------------------------------------------
# Near-dup cluster resolution (pairs -> connected components -> keep list)
# ---------------------------------------------------------------------------
#
# Every pair family above stops at verified PAIRS; a production dedup
# pass must then pick ONE survivor per duplicate CLUSTER (pairs are not
# transitive-closed: a~b, b~c without a~c still must collapse to one
# keeper).  This operator closes that step: connected components over
# the verified simhash near-dup edges, then the canonical keep policy
# (lowest doc_id survives).
#
# Algorithm (round 5): alternating LARGE-STAR / SMALL-STAR — the
# MapReduce CC construction from Kiveris et al., "Connected Components
# in MapReduce and Beyond" (SoCC'14; public knowledge, also the basis
# of GraphFrames' CC).  Each half-round is one hash aggregate
# (per-node neighborhood min) + one join back — the same per-round
# join shape as plain min-label propagation, but the edge set itself
# contracts toward a star per component, so convergence is O(log n)
# ROUNDS instead of O(component diameter): an adversarial 10^6-long
# duplicate chain converges in ~20 rounds, not 10^6.  The previous
# min-label loop is kept as `_cc_min_label` for A/B (BENCH.md) and for
# graphs known to be shallow.
#
#   large-star(u): m = min(N(u) ∪ {u}) over the SYMMETRIZED edges;
#                  emit (v, m) for every neighbor v > u.
#   small-star(u): edges directed large→small, so N(u) = smaller
#                  neighbors; m = min(N(u) ∪ {u}); emit (v, m) for
#                  v ∈ N(u), v ≠ m, plus (u, m).
#
# At the fixed point every component is a star centered on its minimum
# node: edges ARE the (node → cluster_id) labels.
#
# Plan-growth control: every half-round materializes through
# `_truncate` — reliable ``checkpoint(dir)`` when the caller configured
# ``TSCAN_CC_CHECKPOINT_DIR`` (survives executor loss; the production
# setting), ``localCheckpoint`` otherwise (single-JVM test default).
# Either way the logical plan resets to a scan per round, so Catalyst
# analysis stays O(1) per round (persist alone grows the plan
# exponentially — observed round 4: sf0.1 hung in analysis).
#
# Convergence: the loop is BOUNDED at 2*ceil(log2(n_docs)) + 4
# alternations (the theory guarantee), with an early exit on edge-set
# fixed point checked via an order-free (count, bit_xor of pair hashes)
# digest — one tiny aggregate per round over the already-materialized
# checkpoint, not a label-sum barrier over a corpus-sized frame.
#
# DuckDB oracle: WITH RECURSIVE reachability — cluster id = MIN node id
# reachable over undirected edges (UNION dedups, so it terminates).

CC_MAX_ROUNDS = 20  # min-label fallback bound (diameter-limited graphs)

# Below this edge count the component structure is resolved with a
# driver-side union-find over ONE bounded collect (~a few MB) instead
# of the distributed star loop: the loop costs ~6 shuffles + an eager
# checkpoint + a digest job PER ROUND (measured ~0.45-1.2s/round for a
# 434-edge graph — pure stage latency), while union-find on the same
# edges is microseconds. The threshold bounds driver memory by
# construction; past it the O(log n) large-star/small-star loop runs
# unchanged (the 100 TB path — near-dup edge sets at corpus scale are
# far beyond any driver). Labels are identical: union-by-min keeps the
# component minimum as the root, exactly the loop's fixed point.
CC_DRIVER_MAX_EDGES = 100_000


def _truncate(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and cut its lineage: reliable checkpoint when
    TSCAN_CC_CHECKPOINT_DIR is set (round-robin executor-loss-safe
    parquet-backed RDD checkpoint), localCheckpoint otherwise."""
    import os

    ckpt_dir = os.environ.get("TSCAN_CC_CHECKPOINT_DIR")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _edge_digest(edges: DataFrame) -> tuple:
    """Order-free fixed-point digest of a canonical (u > v) edge set."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("x"),
    ).collect()[0]
    return (row["n"], row["x"])


def _cc_union_find(edge_rows: list) -> list:
    """Union-find with union-by-min over (u, v) pairs; returns
    (node, component-min) for every node, sorted by node."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for u, v in edge_rows:
        nodes.add(u)
        nodes.add(v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return [(n, find(n)) for n in sorted(nodes)]


def _cc_two_phase(
    pairs: DataFrame, driver_max_edges: int = CC_DRIVER_MAX_EDGES
) -> tuple[DataFrame, int]:
    """Connected components via alternating large-star/small-star.

    ``pairs``: one row per undirected edge (doc_a, doc_b), any
    orientation.  Returns (labels, rounds): labels has one row per
    non-isolated node — (node, label) with label = component minimum —
    and ``rounds`` is the number of alternations executed (round-count
    evidence for the O(log n) claim lands in tests + BENCH.md).
    """
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    edges = _truncate(edges)
    # ONE startup job: the digest already counts edges, and
    # n_nodes <= 2 * n_edges, so the O(log n) round bound derives from
    # the digest instead of a second countDistinct pass (the bound only
    # loosens by <= 2 rounds, the early-exit digest still stops at the
    # true fixed point)
    digest = _edge_digest(edges)
    if digest[0] <= driver_max_edges:
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [
                StructField("node", edges.schema["u"].dataType, False),
                StructField("label", edges.schema["v"].dataType, False),
            ]
        )
        rows = _cc_union_find([(r["u"], r["v"]) for r in edges.collect()])
        return edges.sparkSession.createDataFrame(rows, schema), 0
    n_nodes = max(2, 2 * digest[0] or 2)
    import math

    max_rounds = 2 * math.ceil(math.log2(n_nodes)) + 4
    rounds = 0
    for _ in range(max_rounds):
        # -- large-star: every neighbor larger than u links to
        #    m = min(N(u) ∪ {u}) over the symmetrized neighborhood
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        # no intermediate distinct: duplicate (u, m) rows change neither
        # small-star's min aggregate nor its final distinct, and the
        # dropped exchange saves a stage per round (the loop is
        # latency-bound — measured 1.2s/round on a 434-edge graph)
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # -- small-star: edges already large→small; every smaller
        #    neighbor (and u itself) links to the neighborhood min
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        edges = _truncate(small)
        rounds += 1
        new_digest = _edge_digest(edges)
        if new_digest == digest:
            break
        digest = new_digest
    else:
        raise RuntimeError(
            f"two-phase CC did not converge in {max_rounds} rounds "
            f"({n_nodes} nodes) — theory bound violated, refusing to "
            "return possibly-unmerged clusters"
        )
    # fixed point = stars: (u → root) edges, roots have no out-edge
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("label"))
    roots = edges.select(F.col("v").alias("node")).subtract(
        edges.select(F.col("u").alias("node"))
    )
    labels = labels.unionByName(
        roots.select("node", F.col("node").alias("label"))
    )
    return labels, rounds


def _cc_min_label(edges_sym: DataFrame) -> DataFrame:
    """Round-4 min-label propagation (kept for A/B and shallow graphs):
    O(component diameter) rounds, label-sum convergence barrier.
    ``edges_sym`` must be symmetrized."""
    labels = (
        edges_sym.select(F.col("doc_a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    prev_sum = None
    for _ in range(CC_MAX_ROUNDS):
        neigh = (
            edges_sym.join(labels, edges_sym["doc_b"] == labels["node"])
            .groupBy(F.col("doc_a").alias("node2"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, labels["node"] == F.col("node2"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        s = new_labels.agg(F.sum("label")).collect()[0][0]
        labels = new_labels
        if s == prev_sum:
            break
        prev_sum = s
    return labels


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment + keep verdict for every document.

    Output: doc_id, cluster_id (min doc_id in the component; own id for
    docs in no near-dup pair), cluster_size, is_keeper.
    """
    pairs = simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels, _ = _cc_two_phase(pairs)
    docs = _docs(spark, sf_dir).select("doc_id")
    out = docs.join(labels, docs["doc_id"] == labels["node"], "left").select(
        "doc_id",
        F.coalesce("label", F.col("doc_id")).cast("long").alias("cluster_id"),
    )
    size_w = Window.partitionBy("cluster_id")
    return out.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(size_w).cast("long").alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


def _sql_cluster_ctes() -> str:
    """Shared CTE chain through ``assigned`` (doc_id -> cluster_id);
    finals of dedup_clusters / dedup_keep_best compose on top."""
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return (
        "WITH RECURSIVE "
        + _sql_simhash_ctes().strip()
        + f""",
banded AS (
    SELECT doc_id, simhash, CAST(b.band AS INT) AS band,
           (simhash >> (CAST(b.band AS INT) * {SIMHASH_BAND_BITS})) & {mask} AS band_val
    FROM shs CROSS JOIN range({SIMHASH_BANDS}) b(band)
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b USING (band, band_val)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
),
edges AS (
    SELECT doc_a, doc_b FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT doc_a AS node, doc_a AS r FROM edges
    UNION
    SELECT re.node, e.doc_b AS r
    FROM reach re JOIN edges e ON e.doc_a = re.r
),
lab AS (
    SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
),
assigned AS (
    SELECT d.doc_id,
           CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
    FROM documents d LEFT JOIN lab l ON l.node = d.doc_id
)"""
    )


def sql_dedup_clusters() -> str:
    return (
        _sql_cluster_ctes()
        + """
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       doc_id = cluster_id AS is_keeper
FROM assigned"""
    )


# ---------------------------------------------------------------------------
# quality-aware cluster resolution (keep the best representative)
# ---------------------------------------------------------------------------
#
# Production keep policies rarely want "lowest doc_id": the standard
# rule is "keep the highest-QUALITY member of each near-dup cluster".
# Same cluster machinery; the keeper is the argmax of the engine's
# Gopher/C4 quality score (deterministic doc_id tiebreak). The quality
# join is doc-grain on doc_id (co-partitioned with the cluster frame);
# the keeper window partitions by cluster_id — cluster-bounded, never
# corpus-wide.


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment with the quality-argmax keep policy.

    Columns: doc_id, cluster_id, cluster_size, quality, is_keeper."""
    from tscan_spark.operators.textstats import quality_score

    clusters = dedup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.join(q, "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            "quality",
            (F.row_number().over(w) == 1).alias("is_keeper"),
        )
        .orderBy("doc_id")
    )


def sql_dedup_keep_best() -> str:
    from tscan_spark.operators.textstats import STOP_LEMMATA

    stop_lits = ", ".join(f"'{w}'" for w in STOP_LEMMATA)
    return (
        _sql_cluster_ctes()
        + f""",
qd AS (
    SELECT doc_id,
           COUNT(*) AS n_tok,
           SUM(length(word)) AS n_chars,
           SUM(CASE WHEN word IN ({stop_lits}) THEN 1 ELSE 0 END) AS n_stop,
           COUNT(DISTINCT word) AS n_uniq
    FROM tok GROUP BY doc_id
),
q AS (
    SELECT doc_id,
           ROUND(0.25 * (CASE WHEN n_tok >= 20 AND n_tok <= 200 THEN 1 ELSE 0 END)
                 + 0.25 * (CASE WHEN n_chars * 1.0 / n_tok >= 3.0
                                 AND n_chars * 1.0 / n_tok <= 10.0 THEN 1 ELSE 0 END)
                 + 0.25 * (1.0 - n_stop * 1.0 / n_tok)
                 + 0.25 * (n_uniq * 1.0 / n_tok), 6) AS quality
    FROM qd
)
SELECT a.doc_id, a.cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY a.cluster_id) AS BIGINT) AS cluster_size,
       q.quality,
       ROW_NUMBER() OVER (
           PARTITION BY a.cluster_id ORDER BY q.quality DESC, a.doc_id) = 1
           AS is_keeper
FROM assigned a JOIN q ON q.doc_id = a.doc_id
ORDER BY a.doc_id"""
    )


# ---------------------------------------------------------------------------
# LSH-stage quality evaluation: MinHash candidates vs the exact pairs
# ---------------------------------------------------------------------------


def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/agreement of the MinHash-LSH stage against the exact
    n-gram Jaccard pairs — the measurement a production dedup run uses
    to size NUM_BANDS/NUM_HASHES before committing to a corpus pass.

    Both inputs are the REGISTERED pipelines (each already exact-
    verifies its candidates at JACCARD_THRESHOLD), so disagreements
    isolate candidate GENERATION: pairs the banding missed (recall
    loss) vs pairs the light/heavy posting split excluded by design
    (heavy-only overlap, dedup.py:204).  Plan: the two pair pipelines
    plus ONE full-outer join at pair cardinality (both sides are
    near-dup-sparse — orders of magnitude below doc^2) and a single
    summary aggregate.  The positional shingle frame — the one subtree
    both pipelines start from — is built and persisted ONCE here and
    shared (guide §2.4: one shingle construction pass instead of two).
    """
    sh = shingles_raw(_docs(spark, sf_dir)).persist()
    exact_pairs = ngram_jaccard_pairs(spark, sf_dir, sh=sh)
    lsh_pairs = minhash_lsh_pairs(spark, sf_dir, sh=sh)
    exact = exact_pairs.select("doc_a", "doc_b", F.lit(1).alias("in_exact"))
    lsh = lsh_pairs.select("doc_a", "doc_b", F.lit(1).alias("in_lsh"))
    joined = exact.join(lsh, ["doc_a", "doc_b"], "full")
    out = joined.agg(
        F.coalesce(F.sum("in_exact"), F.lit(0)).cast("int").alias("n_exact"),
        F.coalesce(F.sum("in_lsh"), F.lit(0)).cast("int").alias("n_lsh"),
        F.sum(
            (F.col("in_exact").isNotNull() & F.col("in_lsh").isNotNull()).cast(
                "int"
            )
        )
        .cast("int")
        .alias("n_both"),
        # empty ground truth => recall is vacuously 1.0, emitted
        # explicitly rather than NULL-by-zero-division (round-4 advice)
        F.round(
            F.when(
                F.coalesce(F.sum("in_exact"), F.lit(0)) > 0,
                F.sum(
                    (
                        F.col("in_exact").isNotNull()
                        & F.col("in_lsh").isNotNull()
                    ).cast("int")
                )
                / F.sum("in_exact"),
            ).otherwise(F.lit(1.0)),
            6,
        ).alias("lsh_recall"),
    )
    return carry_caches(_with_cache(out, sh), exact_pairs, lsh_pairs)


def sql_dedup_recall_eval() -> str:
    return f"""
WITH exact AS (
    SELECT doc_a, doc_b, 1 AS in_exact FROM ({sql_ngram_jaccard()})
),
lsh AS (
    SELECT doc_a, doc_b, 1 AS in_lsh FROM ({sql_minhash_lsh_pairs()})
)
SELECT CAST(COALESCE(SUM(in_exact), 0) AS INT) AS n_exact,
       CAST(COALESCE(SUM(in_lsh), 0) AS INT) AS n_lsh,
       CAST(SUM(CASE WHEN in_exact IS NOT NULL AND in_lsh IS NOT NULL
                     THEN 1 ELSE 0 END) AS INT) AS n_both,
       ROUND(CASE WHEN COALESCE(SUM(in_exact), 0) > 0
                  THEN SUM(CASE WHEN in_exact IS NOT NULL
                                AND in_lsh IS NOT NULL
                                THEN 1 ELSE 0 END) * 1.0
                       / SUM(in_exact)
                  ELSE CAST(1.0 AS DOUBLE) END, 6) AS lsh_recall
FROM exact FULL OUTER JOIN lsh USING (doc_a, doc_b)"""
