"""Document deduplication operators (scale extensions).

Four families over the `documents` table, partition-parallel by design:

- exact: hash-groupBy on a content digest — one shuffle on md5(text), so
  the shuffle key is 32 bytes regardless of document size.
- n-gram Jaccard: exact set-similarity pairs via shingle inverted index
  (explode -> self-join on shingle -> count). Correct but O(pairs sharing
  a shingle); the quadratic blowup on ubiquitous shingles is the reason
  the LSH variant exists.
- MinHash + LSH: the scale path. Signature = MINHASH_PERMS per-permutation
  minima of xxhash64(perm, shingle_hash) (seeded, deterministic); band into
  LSH_BANDS bands x LSH_ROWS rows; candidates = pairs agreeing on >= 1
  band; verify candidates with exact Jaccard. Shuffles are on (band,
  band_hash) buckets — bounded by collision groups, never all-pairs.
- SimHash: 64-bit signed-bit-sum signature over token hashes; candidates
  via SIMHASH_BANDS x SIMHASH_BAND_BITS band equality (pigeonhole
  guarantees every pair with hamming <= SIMHASH_MAX_HAMMING surfaces);
  verify with bit_count(xor).

Everything is built-in expressions (xxhash64 / transform / aggregate /
bit ops) — no Python in the hot path. MinHash-LSH shares the exact-Jaccard
oracle: miss probability per pair is (1 - J^LSH_ROWS)^LSH_BANDS — at the
corpus's planted-duplicate similarity (J ~0.95+) that is ~1e-14 with the
current 8 bands x 2 rows, so verified-LSH output equals the exact
operator's output (see the constants below for the exact parameters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.functions import portable, textfns
from banking_streaming_etl_spark.operators import memo

SHINGLE_N = 3
JACCARD_THRESHOLD = 0.8
#: 16 perms = 8 bands x 2 rows: P(miss | J) = (1-J^2)^8 -> 3e-4 at J=0.8,
#: ~1e-14 at the corpus's planted J~0.95+. Half the codegen cost of 32
#: perms for the same verified output.
MINHASH_PERMS = 16
LSH_BANDS = 8
LSH_ROWS = 2  # MINHASH_PERMS / LSH_BANDS
SIMHASH_BITS = 64
#: 8 bands x 8 bits: pigeonhole guarantees every pair with hamming <= 7
#: shares at least one clean band (planted near-dups in this corpus measure
#: hamming 0-9); candidate volume stays ~N^2/2^8 per band.
SIMHASH_BANDS = 8
SIMHASH_BAND_BITS = 8
SIMHASH_MAX_HAMMING = 7


def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) distinct pairs — the shared inverted-index input."""
    docs = datamodel.load_table(spark, sf_dir, "documents").withColumn(
        "toks", textfns.tokens()
    )
    return docs.select(
        "doc_id", F.explode(textfns.word_shingles("toks", SHINGLE_N)).alias("s")
    ).distinct()


def doc_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, xxhash64(shingle), md5_48(shingle)) distinct rows.
    Joining/grouping on an 8-byte hash instead of the shingle string is
    ~3x faster (measured at sf0.1) and the scale answer — the shuffle
    key is fixed-width no matter the shingle size.

    Two hashes ride the ONE memoized scan because they serve different
    contracts: `h` (xxhash64) keys MinHash CANDIDATE GENERATION only
    (permutation minima + band hashes — a hash artifact there can only
    add a candidate, which the exact verify then rejects, or drop one,
    which is the recall question the planted-pair tests pin — never
    change a verified value); `hm` (portable 48-bit md5,
    functions/portable.md5_48) keys every ORACLE-COMPARED quantity —
    Jaccard intersections, novelty/dup-span/overlap counts — because
    there both engines must derive the IDENTICAL key set (SHINGLES_CTE
    hashes the same md5_48 on the DuckDB side), so even a collision is
    consistent rather than a parity break. Completed in round 6: no
    engine-specific hash anywhere DuckDB must re-derive, pinned by the
    tests/test_plan_shapes.py no-xxhash64 sweep."""
    from banking_streaming_etl_spark.functions import portable

    return doc_shingles(spark, sf_dir).select(
        "doc_id",
        F.xxhash64("s").alias("h"),
        portable.md5_48(F.col("s")).alias("hm"),
    )


def _shared(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    """Session-shared derived shingle frame (operators/memo.shared under
    ``shingles:<kind>``, ``.cache()``d). Returning the SAME DataFrame
    object guarantees a single InMemoryRelation (plan-identity, not
    CacheManager plan-equality luck):

    - "hashes": the tokenize+explode+distinct scan both dedup twins, doc
      novelty and the cluster pipeline read — runs once per session.
    - "sizes": the per-doc shingle counts both twins' Jaccard
      verification needs — one tiny frame instead of one aggregate pass
      per query.
    - "banded": the 16-agg MinHash signature pipeline, banded —
      memoizing it also stops the old per-call cache() from leaking a
      new InMemoryRelation on every dedup_minhash_lsh/dedup_clusters
      build."""
    return memo.shared(
        spark, sf_dir, f"shingles:{kind}", lambda: build().cache()
    )


def shared_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared(
        spark, sf_dir, "hashes", lambda: doc_shingle_hashes(spark, sf_dir)
    )


def shared_shingle_hm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PORTABLE-key projection of the shared scan: distinct
    (doc_id, hm) rows — the frame every oracle-compared shingle join or
    count must read (it is the exact Spark twin of SHINGLES_CTE's
    ``SELECT DISTINCT doc_id, md5_48(s)``: the distinct runs AFTER
    hashing in both engines, so a within-doc collision dedupes
    identically)."""
    return _shared(
        spark,
        sf_dir,
        "hm",
        lambda: shared_shingle_hashes(spark, sf_dir)
        .select("doc_id", "hm")
        .distinct(),
    )


def shared_shingle_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc distinct-shingle counts off the portable-key projection:
    (doc_id, n) — matches SHINGLES_CTE's shingle_sizes bit-for-bit."""
    return _shared(
        spark,
        sf_dir,
        "sizes",
        lambda: shared_shingle_hm(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n")),
    )


#: DuckDB twin of the shared scan's PORTABLE key: `s` is the 48-bit md5
#: prefix (functions/portable.md5_48_sql), NOT the raw shingle string —
#: the Spark side joins/counts on the identical bigint (column `hm`), so
#: every oracle-compared shingle quantity is derived from the same key
#: set in both engines (round-6 completion of the portable-hash
#: invariant; a collision is consistent, never a parity break).
SHINGLES_CTE = f"""
doc_shingles AS (
    SELECT DISTINCT doc_id, {portable.md5_48_sql('s')} AS s
    FROM (
        SELECT doc_id,
               unnest({textfns.word_shingles_sql("string_split(text, ' ')", SHINGLE_N)}) AS s
        FROM documents
    )
),
shingle_sizes AS (
    SELECT doc_id, COUNT(*) AS n FROM doc_shingles GROUP BY doc_id
)
"""


# --- exact dedup -------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups keyed by content digest: canonical id = min
    doc_id, plus copy count. Shuffle key is the 32-byte digest."""
    docs = datamodel.load_table(spark, sf_dir, "documents")
    return (
        docs.select(textfns.md5_fingerprint().alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("doc_id_canonico"),
            F.count("*").alias("n_copias"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS fingerprint,
       MIN(doc_id) AS doc_id_canonico,
       COUNT(*) AS n_copias
FROM documents
GROUP BY md5(text)
"""


# --- exact n-gram Jaccard pairs ------------------------------------------------


def _jaccard_verified_pairs(common: DataFrame, sizes: DataFrame) -> DataFrame:
    """Shared verification tail: (doc_a, doc_b, common count) x set sizes ->
    rounded Jaccard, thresholded. Used by BOTH the exact operator and the
    LSH verification so the 'verified-LSH equals exact' invariant cannot
    drift between two copies of the ratio/round/filter logic."""
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c").cast("double") / (
        F.col("na") + F.col("nb") - F.col("c")
    ).cast("double")
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard near-dup pairs (a < b, J >= threshold),
    joined on the PORTABLE shingle key (see doc_shingle_hashes — the
    oracle derives the identical md5_48 key set)."""
    sh = shared_shingle_hm(spark, sf_dir)
    sizes = shared_shingle_sizes(spark, sf_dir)
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.hm") == F.col("b.hm")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("c"))
    )
    return _jaccard_verified_pairs(common, sizes)


NEAR_DUP_JACCARD_SQL = f"""
WITH {SHINGLES_CTE.strip().rstrip()},
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
    FROM doc_shingles a
    JOIN doc_shingles b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE), 6) AS jaccard
FROM common
JOIN shingle_sizes sa ON doc_a = sa.doc_id
JOIN shingle_sizes sb ON doc_b = sb.doc_id
WHERE ROUND(CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE), 6)
      >= {JACCARD_THRESHOLD}
"""


# --- MinHash + LSH --------------------------------------------------------------


def minhash_signatures(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """P per-doc minima of xxhash64(perm_id, shingle_hash) — one groupBy,
    P aggs over the hashed inverted index."""
    if sh is None:
        sh = shared_shingle_hashes(spark, sf_dir)
    aggs = [
        F.min(F.xxhash64(F.lit(p), F.col("h"))).alias(f"mh_{p}")
        for p in range(MINHASH_PERMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _banded_signatures(signatures: DataFrame) -> DataFrame:
    """Band the signature (LSH_BANDS x LSH_ROWS) and hash each band:
    (doc_id, band, bh)."""
    bands = []
    for band in range(LSH_BANDS):
        cols = [
            F.col(f"mh_{band * LSH_ROWS + r}") for r in range(LSH_ROWS)
        ]
        bands.append(
            F.struct(
                F.lit(band).alias("band"), F.xxhash64(*cols).alias("bh")
            )
        )
    return signatures.select(
        "doc_id", F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", "b.band", "b.bh")


def _bucket_join(banded: DataFrame) -> DataFrame:
    """Self-join banded signatures on (band, bh): distinct candidate
    pairs. `banded` must be materialized (cached) by the caller — the
    join would otherwise recompute the whole signature pipeline
    (shingle explode + P min-aggs) for each side."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact-Jaccard verification of the
    candidate set (so precision is exact; recall ~1 at J>=0.8 — see module
    docstring for the shared-oracle argument)."""
    sh = shared_shingle_hashes(spark, sf_dir)
    banded = _shared(
        spark,
        sf_dir,
        "banded",
        lambda: _banded_signatures(minhash_signatures(spark, sf_dir, sh)),
    )
    candidates = _bucket_join(banded)
    sizes = shared_shingle_sizes(spark, sf_dir)

    # exact verification joins on the PORTABLE key (hm) so the verified
    # Jaccard is derived from the same key set as the shared oracle;
    # xxhash64 (`h`) stays strictly inside candidate generation above
    hm = shared_shingle_hm(spark, sf_dir)
    a = hm.select(F.col("doc_id").alias("doc_a"), F.col("hm"))
    b = hm.select(F.col("doc_id").alias("doc_b"), F.col("hm"))
    common = (
        candidates.join(a, "doc_a")
        .join(b, ["doc_b", "hm"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    return _jaccard_verified_pairs(common, sizes)


def row_local_minhash_bands(docs: DataFrame) -> DataFrame:
    """Per-ROW MinHash-LSH band hashes as pure array expressions over the
    doc's own text — no explode + groupBy, therefore STREAM-SAFE
    stateless (the batch pipeline's shuffle-per-signature is the right
    shape for a corpus scan; at INGEST each document arrives whole in one
    row, so its signature is a narrow map). Bit-identical to
    `minhash_signatures` + `_banded_signatures` by construction: the
    same distinct-shingle xxhash64 ladder, the same per-permutation
    min, the same band hash (pinned by an equality test).

    Output: one row per (doc, band) with the band hash plus the doc's
    distinct shingle-hash set and its size carried along — everything a
    downstream screen needs to verify candidates exactly without
    re-reading the document."""
    toked = docs.withColumn("toks", textfns.tokens())
    h_set = F.array_distinct(
        F.transform(
            F.array_distinct(textfns.word_shingles("toks", SHINGLE_N)),
            lambda s: F.xxhash64(s),
        )
    )
    # docs with no shingles (< SHINGLE_N tokens) have no signature — the
    # batch pipeline emits nothing for them (no inverted-index rows), so
    # the row-local form must drop them too for bit-parity
    def _perm_min(p: int):
        # closure factory, NOT a `p=p` default arg: PySpark reads a
        # two-parameter lambda as the (element, index) form and would
        # silently bind p to the ARRAY INDEX instead of the permutation
        return F.array_min(
            F.transform(F.col("h_set"), lambda x: F.xxhash64(F.lit(p), x))
        )

    sig = toked.withColumn("h_set", h_set).filter(
        F.size("h_set") > 0
    ).withColumn(
        "mh",
        F.array(*[_perm_min(p) for p in range(MINHASH_PERMS)]),
    )
    bands = [
        F.struct(
            F.lit(band).alias("band"),
            F.xxhash64(
                *[
                    F.element_at("mh", band * LSH_ROWS + r + 1)
                    for r in range(LSH_ROWS)
                ]
            ).alias("bh"),
        )
        for band in range(LSH_BANDS)
    ]
    return sig.select(
        "doc_id",
        "h_set",
        F.size("h_set").alias("n_shingles"),
        F.explode(F.array(*bands)).alias("b"),
    ).select("doc_id", "h_set", "n_shingles", "b.band", "b.bh")


def near_dup_screen_against_index(
    new_docs: DataFrame, index_banded: DataFrame, index_sets: DataFrame
) -> DataFrame:
    """Screen incoming documents against a PREBUILT corpus LSH index —
    the ingest-time near-dup quarantine router. Works identically on a
    batch frame and an unbounded stream (batch/stream unification: the
    body is pure narrow maps + stream-static equi-joins, zero state
    store):

    1. row-local band hashes for each new doc (see above);
    2. stream-static INNER equi-join on (band, bh) against the index's
       banded signatures — candidate generation, never all-pairs;
    3. exact verify: array_intersect against the indexed doc's shingle
       set (broadcast/co-partitioned static side), Jaccard threshold.

    A pair agreeing on multiple bands emits one row PER agreeing band
    (keeping the screen free of dropDuplicates = zero streaming state —
    the decontamination screen's stance); distinct-pair dedup is one
    groupBy downstream where exactly-once matters."""
    s = row_local_minhash_bands(new_docs).withColumnRenamed(
        "doc_id", "doc_novo"
    )
    idx = index_banded.select(
        F.col("doc_id").alias("doc_indice"), "band", "bh"
    )
    cand = s.join(idx, ["band", "bh"]).filter(
        F.col("doc_novo") != F.col("doc_indice")
    )
    verified = cand.join(
        index_sets.select(
            F.col("doc_id").alias("doc_indice"),
            F.col("h_set").alias("h_set_indice"),
            F.col("n_shingles").alias("n_indice"),
        ),
        "doc_indice",
    )
    c = F.size(F.array_intersect("h_set", "h_set_indice"))
    jac = F.round(
        c.cast("double")
        / (F.col("n_shingles") + F.col("n_indice") - c).cast("double"),
        6,
    )
    return (
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_novo", "doc_indice", "band", "jaccard")
    )


def corpus_lsh_index(spark: SparkSession, sf_dir: str, docs: DataFrame):
    """(banded signatures, shingle sets) of an index corpus — the static
    side `near_dup_screen_against_index` joins against. Built with the
    row-local expressions so index and probe signatures share one code
    path."""
    b = row_local_minhash_bands(docs)
    return (
        b.select("doc_id", "band", "bh"),
        # one row per doc (band 0 projection — cheaper than a distinct
        # over array-typed rows)
        b.filter(F.col("band") == 0).select(
            "doc_id", "h_set", "n_shingles"
        ),
    )


# --- SimHash ---------------------------------------------------------------------


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per doc: per-bit signed sums over distinct-token
    hashes, recombined with shiftleft/bitwise-or."""
    docs = datamodel.load_table(spark, sf_dir, "documents").withColumn(
        "toks", textfns.tokens()
    )
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct("toks")).alias("t")
    ).withColumn("h", F.xxhash64("t"))
    aggs = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"b{b}") > 0,
                F.shiftleft(F.lit(1).cast("long"), b),
            ).otherwise(F.lit(0).cast("long"))
        )
    return sums.select("doc_id", sig.alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: SIMHASH_BANDS x SIMHASH_BAND_BITS band
    blocking (pigeonhole covers hamming <= SIMHASH_MAX_HAMMING), verified
    with bit_count(a XOR b)."""
    sig = simhash_signatures(spark, sf_dir).cache()
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned("simhash", i * SIMHASH_BAND_BITS)
            .bitwiseAND(F.lit(mask))
            .alias("bh"),
        )
        for i in range(SIMHASH_BANDS)
    ]
    banded = (
        sig.select("doc_id", "simhash", F.explode(F.array(*bands)).alias("b"))
        .select("doc_id", "simhash", "b.band", "b.bh")
        .cache()
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


# --- near-dup clusters (connected components) ----------------------------------


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list by min-label
    propagation: every node's label converges to the smallest id in its
    component. Per iteration: label(n) := min(label(n), min(label of
    neighbors)) — one join on the symmetric edge closure + one groupBy,
    i.e. two key-partitioned shuffles over edge-sized data; iterations
    bounded by component diameter (near-dup clusters are shallow — the
    corpus converges in 2); at very large diameters you'd switch to the
    large-star/small-star doubling variant, which is the same two
    relational steps with edge rewriting.

    Each round TRUNCATES LINEAGE with an eager localCheckpoint: cache()
    alone is not enough in an iterative loop — the analyzed logical plan
    doubles every round (labels appears twice in its own successor) and
    the analyzer blows the driver heap around 8-10 iterations. Same
    driver-coordinated loop shape as `ivf_train`; on a cluster where
    executor loss mid-loop matters, swap localCheckpoint for a
    reliable checkpoint() dir. Returns (node, component) with
    component = min node id."""
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .union(pairs.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select("u")
        .distinct()
        .withColumn("label", F.col("u"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.select(F.col("u").alias("v"), "label"), "v"
            )
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "u", "left")
            .select(
                "u",
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(
                labels.select("u", F.col("label").alias("old")), "u"
            )
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("u").alias("node"), F.col("label").alias("component")
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step that completes the dedup pipeline: verified near-dup
    PAIRS -> connected components -> one row per clustered doc with its
    canonical (min-id) representative — what you join back against the
    corpus to drop all but one doc per cluster. Pairs come from the
    MinHash-LSH scale path; the oracle walks the same (exact-Jaccard)
    edges with a recursive CTE, exercising the verified-LSH == exact
    invariant end-to-end."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    cc = connected_components(pairs)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("doc_id_canonico"),
    )


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE.strip().rstrip()},
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
    FROM doc_shingles a
    JOIN doc_shingles b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b
    FROM common
    JOIN shingle_sizes sa ON doc_a = sa.doc_id
    JOIN shingle_sizes sb ON doc_b = sb.doc_id
    WHERE ROUND(CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE), 6)
          >= {JACCARD_THRESHOLD}
),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, label) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges)
    UNION
    SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
)
SELECT u AS doc_id, MIN(label) AS doc_id_canonico
FROM reach
GROUP BY u
"""


# --- fuzzy (edit-distance) dedup -------------------------------------------

#: max edit distance for a fuzzy-duplicate pair (also the length-gap
#: pre-filter bound: |len(a) - len(b)| <= d is necessary for lev <= d).
FUZZY_LEV_MAX = 3


def fuzzy_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-duplicate pairs over `part.p_name` by edit distance.

    The entity-resolution flavor of dedup (typo'd product/entity names)
    the digest/shingle families can't catch: levenshtein(a, b) <=
    FUZZY_LEV_MAX, candidates blocked on the first name token so the
    self-join is an equi-join on the block key — never all-pairs. The
    length-difference pre-filter (a necessary condition for the edit
    bound) prunes candidates before the O(len^2) distance kernel runs.
    At 100 TB-scale entity tables the block key would be a phonetic or
    q-gram key; the plan shape (block equi-join + cheap necessary-
    condition filter + exact verify) is the standard one."""
    p = datamodel.load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("nome")
    )
    return fuzzy_name_pairs(p)


def fuzzy_name_pairs(named: DataFrame) -> DataFrame:
    """Blocked edit-distance pairs over an (id, nome) frame."""
    p = named.withColumn("blk", F.split("nome", " ").getItem(0))
    a = p.select(
        F.col("id").alias("id_a"), F.col("nome").alias("nome_a"), "blk"
    )
    b = p.select(
        F.col("id").alias("id_b"), F.col("nome").alias("nome_b"), "blk"
    )
    return (
        a.join(b, "blk")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.abs(F.length("nome_a") - F.length("nome_b"))
                <= FUZZY_LEV_MAX
            )
        )
        .withColumn("distancia", F.levenshtein("nome_a", "nome_b"))
        .filter(F.col("distancia") <= FUZZY_LEV_MAX)
        .select("id_a", "id_b", "distancia")
    )


FUZZY_DEDUP_SQL = f"""
WITH p AS (
    SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk FROM part
)
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       levenshtein(a.p_name, b.p_name) AS distancia
FROM p a
JOIN p b
  ON a.blk = b.blk
 AND a.p_partkey < b.p_partkey
 AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= {FUZZY_LEV_MAX}
WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_LEV_MAX}
"""


# --- per-document shingle novelty (substring-level dedup signal) --------------


def doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty vs everything BEFORE it: the fraction of the
    doc's 3-gram shingles whose first corpus occurrence (min doc_id) is
    not an earlier document — the substring-level dedup/boilerplate
    signal (Lee et al. 2022's dup-fraction, at shingle granularity) that
    drives keep/trim decisions where whole-doc dedup is too blunt.

    Scale shape: reuses the session-shared shingle-hash scan; one
    groupBy(hm) for first-occurrence, one hash-join back, one per-doc
    aggregate — shuffle keys are the 8-byte shingle hash and doc_id. The
    key is the PORTABLE md5_48 (the oracle derives the identical key
    set), so the counted quantities are bit-consistent across engines."""
    sh = shared_shingle_hm(spark, sf_dir)
    first = sh.groupBy("hm").agg(F.min("doc_id").alias("first_doc"))
    seen = F.sum(
        F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
    ).alias("n_vistos")
    per = (
        sh.join(first, "hm")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"), seen)
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_vistos",
        F.round(
            F.lit(1.0)
            - F.col("n_vistos").cast("double")
            / F.col("n_shingles").cast("double"),
            6,
        ).alias("novidade"),
    )


DOC_NOVELTY_SQL = f"""
WITH {SHINGLES_CTE.strip().rstrip()},
first_seen AS (
    SELECT s, MIN(doc_id) AS first_doc FROM doc_shingles GROUP BY s
)
SELECT doc_id, COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_vistos,
       ROUND(1.0 - CAST(SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END)
                        AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS novidade
FROM doc_shingles JOIN first_seen USING (s)
GROUP BY doc_id
"""


# --- duplicated-span statistics (positional substring-level dedup) ------------


def dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-SPAN statistics: how much of each doc is
    covered by 3-gram shingles that also occur in at least one OTHER
    document, and the longest CONSECUTIVE such run (in shingle
    positions). This is the positional complement of `doc_novelty` —
    the signal behind exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a long
    duplicated run marks a boilerplate/quoted block worth trimming even
    when the whole doc isn't a near-dup.

    Scale shape: the corpus-wide duplicated-shingle set reuses the
    session-shared distinct (doc_id, hash) scan (one groupBy on the
    8-byte hash); positional shingles are a narrow map + explode; the
    flag join is an equi-join on the hash; run detection is the
    gaps-and-islands window PARTITIONED BY doc_id (per-doc work, never
    a global sort). Every hash-keyed quantity rides the PORTABLE md5_48
    key the oracle re-derives bit-identically."""
    sh = shared_shingle_hm(spark, sf_dir)
    docs = datamodel.load_table(spark, sf_dir, "documents")
    return dup_span_frame(docs, sh)


def dup_span_frame(docs: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """Frame-level core of `dup_span_stats` over any (doc_id, text)
    frame; `sh` is an optional pre-built distinct (doc_id, hm) shingle
    scan (the session memo on the registered path)."""
    from pyspark.sql import Window

    docs = docs.withColumn("toks", textfns.tokens())
    if sh is None:
        sh = (
            docs.select(
                "doc_id",
                F.explode(
                    textfns.word_shingles("toks", SHINGLE_N)
                ).alias("s"),
            )
            .select("doc_id", portable.md5_48(F.col("s")).alias("hm"))
            .distinct()
        )
    dup = (
        sh.groupBy("hm")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("hm")
    )
    pos = docs.select(
        "doc_id",
        F.posexplode(textfns.word_shingles("toks", SHINGLE_N)).alias(
            "pos", "s"
        ),
    ).select("doc_id", "pos", portable.md5_48(F.col("s")).alias("hm"))
    flagged = pos.join(dup, "hm").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = flagged.withColumn("grp", F.col("pos") - F.row_number().over(w))
    per_dup = (
        runs.groupBy("doc_id", "grp")
        .agg(F.count("*").alias("rl"))
        .groupBy("doc_id")
        .agg(F.max("rl").alias("max_run"), F.sum("rl").alias("n_dup"))
    )
    totals = pos.groupBy("doc_id").agg(F.count("*").alias("n_pos"))
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0).cast("long"))
    return totals.join(per_dup, "doc_id", "left").select(
        "doc_id",
        "n_pos",
        n_dup.alias("n_dup"),
        F.round(
            n_dup.cast("double") / F.col("n_pos").cast("double"), 6
        ).alias("frac_dup"),
        F.coalesce(F.col("max_run"), F.lit(0).cast("long")).alias("max_run"),
    )


DUP_SPAN_SQL = f"""
WITH {SHINGLES_CTE.strip().rstrip()},
dupset AS (
    SELECT s FROM doc_shingles GROUP BY s HAVING COUNT(*) >= 2
),
pos AS (
    SELECT doc_id, pos, {portable.md5_48_sql('s')} AS s
    FROM (
        SELECT doc_id,
               unnest(range(1, len(string_split(text, ' ')) - {SHINGLE_N - 2}))
                   AS pos,
               unnest({textfns.word_shingles_sql("string_split(text, ' ')", SHINGLE_N)})
                   AS s
        FROM documents
        WHERE len(string_split(text, ' ')) >= {SHINGLE_N}
    )
),
flagged AS (
    SELECT doc_id, pos FROM pos JOIN dupset USING (s)
),
runs AS (
    SELECT doc_id,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM flagged
),
runlens AS (
    SELECT doc_id, grp, COUNT(*) AS rl FROM runs GROUP BY 1, 2
),
per_dup AS (
    SELECT doc_id, MAX(rl) AS max_run, SUM(rl) AS n_dup
    FROM runlens GROUP BY doc_id
),
totals AS (
    SELECT doc_id, COUNT(*) AS n_pos FROM pos GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup,
       ROUND(CAST(COALESCE(n_dup, 0) AS DOUBLE) / CAST(n_pos AS DOUBLE), 6)
           AS frac_dup,
       CAST(COALESCE(max_run, 0) AS BIGINT) AS max_run
FROM totals LEFT JOIN per_dup USING (doc_id)
"""


# --- incremental dedup (new batch vs existing corpus index) -------------------

#: deterministic arrival split: docs with doc_id % 5 == 0 play the "new
#: batch"; the rest are the standing corpus index. (In production the
#: split is the ingestion boundary; a data-derived rule keeps the
#: operator oracle-checkable.)
INCREMENTAL_MOD = 5


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: screen a NEW batch of documents against the
    standing corpus index — the production shape of dedup at 100 TB,
    where re-deduplicating the whole corpus per ingest is off the
    table. Per new document: exact-duplicate flag (its content digest
    exists in the index) and the best shingle-Jaccard match among index
    documents (with a deterministic argmax: highest rounded Jaccard,
    lowest index doc_id).

    Scale shape: the digest screen is an equi-join on the 32-byte
    digest; the near-dup screen joins the new batch's shingle hashes
    against the index side of the SESSION-SHARED shingle scan — the
    same inverted-index join as near_dup_jaccard but new x index only
    (never index x index). At full scale the index side is the stored
    MinHash band table and candidate generation is the banded bucket
    join of dedup_minhash_lsh — identical plan shape, persisted
    signatures."""
    from pyspark.sql import Window

    is_new = F.col("doc_id") % INCREMENTAL_MOD == 0
    docs = datamodel.load_table(spark, sf_dir, "documents")
    digests = docs.select(
        "doc_id", textfns.md5_fingerprint().alias("fingerprint")
    )
    new_dig = digests.filter(is_new)
    idx_dig = digests.filter(~is_new).select(
        F.col("fingerprint").alias("fingerprint"),
    ).distinct()
    exact_hit = (
        new_dig.join(idx_dig, "fingerprint", "left_semi")
        .select("doc_id")
        .withColumn("dup_exata", F.lit(True))
    )

    sh = shared_shingle_hm(spark, sf_dir)
    sizes = shared_shingle_sizes(spark, sf_dir)
    new_sh = sh.filter(is_new).select(
        F.col("doc_id").alias("doc_novo"), "hm"
    )
    idx_sh = sh.filter(~is_new).select(
        F.col("doc_id").alias("doc_indice"), "hm"
    )
    common = (
        new_sh.join(idx_sh, "hm")
        .groupBy("doc_novo", "doc_indice")
        .agg(F.count("*").alias("c"))
    )
    jac = F.round(
        F.col("c").cast("double")
        / (F.col("na") + F.col("nb") - F.col("c")).cast("double"),
        6,
    )
    scored = (
        common.join(
            sizes.select(F.col("doc_id").alias("doc_novo"),
                         F.col("n").alias("na")),
            "doc_novo",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_indice"),
                         F.col("n").alias("nb")),
            "doc_indice",
        )
        .withColumn("jaccard", jac)
    )
    w = Window.partitionBy("doc_novo").orderBy(
        F.desc("jaccard"), F.asc("doc_indice")
    )
    best = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_novo",
            F.col("jaccard").alias("melhor_jaccard"),
            F.col("doc_indice").alias("doc_id_indice"),
        )
    )
    return (
        docs.filter(is_new)
        .select("doc_id")
        .join(exact_hit, "doc_id", "left")
        .join(best, docs.doc_id == best.doc_novo, "left")
        .select(
            "doc_id",
            F.coalesce("dup_exata", F.lit(False)).alias("dup_exata"),
            "melhor_jaccard",
            "doc_id_indice",
        )
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH {SHINGLES_CTE.strip().rstrip()},
new_docs AS (
    SELECT doc_id, md5(text) AS fingerprint FROM documents
    WHERE doc_id % {INCREMENTAL_MOD} = 0
),
idx_digests AS (
    SELECT DISTINCT md5(text) AS fingerprint FROM documents
    WHERE doc_id % {INCREMENTAL_MOD} <> 0
),
common AS (
    SELECT n.doc_id AS doc_novo, i.doc_id AS doc_indice, COUNT(*) AS c
    FROM doc_shingles n
    JOIN doc_shingles i ON n.s = i.s
    WHERE n.doc_id % {INCREMENTAL_MOD} = 0
      AND i.doc_id % {INCREMENTAL_MOD} <> 0
    GROUP BY 1, 2
),
scored AS (
    SELECT doc_novo, doc_indice,
           ROUND(CAST(c AS DOUBLE)
                 / CAST(sa.n + sb.n - c AS DOUBLE), 6) AS jaccard
    FROM common
    JOIN shingle_sizes sa ON doc_novo = sa.doc_id
    JOIN shingle_sizes sb ON doc_indice = sb.doc_id
),
best AS (
    SELECT doc_novo, jaccard AS melhor_jaccard, doc_indice AS doc_id_indice
    FROM (
        SELECT doc_novo, jaccard, doc_indice,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_novo
                   ORDER BY jaccard DESC, doc_indice ASC
               ) AS rk
        FROM scored
    )
    WHERE rk = 1
)
SELECT nd.doc_id,
       (ed.fingerprint IS NOT NULL) AS dup_exata,
       melhor_jaccard,
       doc_id_indice
FROM new_docs nd
LEFT JOIN idx_digests ed ON nd.fingerprint = ed.fingerprint
LEFT JOIN best ON nd.doc_id = best.doc_novo
"""
