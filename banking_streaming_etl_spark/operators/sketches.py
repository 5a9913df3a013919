"""Engine-portable probabilistic sketches: Count-Min frequency estimation
and a Bloom-filter membership screen.

Like `plans/relational.kmv_distinct_payers` (the template for this
family), both sketches replace the engine-specific hashes a production
implementation would use (xxhash64 / murmur) with the closed-form
portable LCG ladder (operators/embeddings._portable_hash_spark) so DuckDB
re-derives bit-identical sketch state — an APPROXIMATE operator becomes
oracle-checkable, with the exact answer riding along as the error
witness.

Reference parity: the reference keeps per-payer frequency state in Redis
hashes and screens membership with SQL IN-lists
(containers/spark-etl/streaming_etl.py:176-207, dashboards' freq
queries); these sketches are the bounded-memory 100 TB replacements for
both patterns — CMS for "how often has this payer transacted" without a
per-payer row, Bloom for "is this payer in the flagged set" without
shipping the set.

Scale shapes (the point of each):
- CMS: the counter table is D x W cells TOTAL regardless of corpus size;
  the build is one shuffle of (d, bucket) keys with map-side partial
  aggregation, so each task emits at most D x W rows no matter how many
  billions of transactions it scanned. Probing joins a broadcast of the
  2 KB cell table.
- Bloom: the bit set is <= B_BITS rows (a few KB broadcast); the probe is
  a broadcast left-join + all-J match count — the runtime-filter /
  semi-join-pushdown pattern (Spark's own AQE runtime filters use
  exactly this shape JVM-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.functions import portable
from banking_streaming_etl_spark.operators import memo

#: LCG range (2^31 keeps every multiply below 2^63 under ANSI for the
#: constants below) — re-exported from the shared ladder.
_M = portable.M31

#: independent (a, b) LCG constants per hash row — all < 2^31 so
#: (x % _M) * a + b < 2^62. Classic published LCG parameter sets (glibc,
#: Borland, MSVC, VAX) — chosen for being well-known, not for quality;
#: pairwise-independence enough for sketch bounds at these widths.
_HASH_CONSTANTS = (
    (1103515245, 12345),
    (1140671485, 12820163),
    (214013, 2531011),
    (69069, 1234567),
)

#: CMS geometry: D rows x W counters. Point-query overestimate is
#: bounded by 2N/W with prob 1 - (1/2)^D (Cormode & Muthukrishnan 2005).
CMS_D = 4
CMS_W = 512

#: Bloom geometry: B bits, J hash functions.
BLOOM_BITS = 4096
BLOOM_J = 3

#: membership predicate for the Bloom screen: payers with any transaction
#: above this value (the reference's t6 high-value flag family,
#: streaming_etl.py:121-123, scaled so the member set is a selective
#: ~15% of distinct payers at the driver's value distribution).
BLOOM_VALUE_THRESHOLD = 300.0

#: how many heavy hitters the CMS query reports (exact top by count).
CMS_TOP = 10


#: thin aliases over the ONE shared ladder (functions/portable.py) —
#: kept so the sketch code reads in terms of its own geometry
_lcg_bucket = portable.lcg_bucket
_lcg_bucket_sql = portable.lcg_bucket_sql


# --- Count-Min sketch heavy hitters ------------------------------------------


def cms_coords(col) -> "F.Column":
    """The D (d, bucket) sketch coordinates of a key — the ONE definition
    the batch build, the probe side, and the streaming twin all share."""
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                _lcg_bucket(col, *_HASH_CONSTANTS[d], CMS_W).alias("bucket"),
            )
            for d in range(CMS_D)
        ]
    )


def cms_cells(tx: DataFrame) -> DataFrame:
    """D x W cell counts of payer occurrences — works unchanged on a
    bounded frame or an unbounded stream (complete-mode aggregation:
    state is the fixed-size cell table, bounded at any stream length)."""
    return (
        tx.select(F.explode(cms_coords(F.col("id_usuario_pagador"))).alias("c"))
        .groupBy(F.col("c.d").alias("d"), F.col("c.bucket").alias("bucket"))
        .agg(F.count("*").alias("cell"))
    )


#: K-register min-value distinct sketch — the mergeable / streaming face
#: of the KMV family (plans/relational.kmv_distinct_payers holds the
#: bottom-K order-statistic form; kmv_merge_rollup proves its batch
#: merge law). A true bottom-K cannot ride a streaming aggregate (its
#: state is the distinct-hash set until K survivors stabilize), but the
#: stochastic-averaging layout can: register j = h mod K holds
#: MIN(h div K), so the state is exactly G x K rows forever and the
#: merge is elementwise MIN — the rare aggregation whose complete-mode
#: output is bounded by construction (the CMS argument, for distincts).
KMV_REG_K = 64
#: register value range: h div K over the LCG's [0, 2^31) is uniform on
#: [0, 2^25). E[min of n_j uniforms on [0,R)] ~ R/(n_j+1), i.e.
#: m_j/R ~ 1/(n_j+1) — the estimator inverts the SUM of those
#: (harmonic-mean style, the HLL insight): sum_j m_j/R ~ K^2/(n+K)
#: with empty registers contributing m_j = R (min of zero draws), so
#: n_hat = K^2*R / (sum m_j + (K - hit)*R) - K. Summing m_j (not
#: 1/m_j per register) keeps the estimator tail-robust: a per-register
#: R/(m_j+1) blows up when a register holds a single small draw — the
#: sparse-modality case the first cut of this estimator failed on.
KMV_REG_R = portable.M31 // KMV_REG_K


def kmv_registers(tx: DataFrame) -> DataFrame:
    """Per-(modality, register) MIN-hash table — works unchanged on a
    bounded frame or an unbounded stream (complete-mode aggregation:
    state is the G x KMV_REG_K register table at any stream length).
    Deterministic and order-independent (MIN over the shared portable
    LCG), so the streaming table is BIT-EQUAL to the batch build over
    the same rows — pinned by the stream-vs-batch differential."""
    h = portable.lcg_hash(F.col("id_usuario_pagador"))
    return (
        tx.select("modalidade_pagamento", h.alias("h"))
        .select(
            "modalidade_pagamento",
            F.pmod(F.col("h"), F.lit(KMV_REG_K)).alias("reg"),
            ((F.col("h") - F.pmod(F.col("h"), F.lit(KMV_REG_K)))
             / F.lit(KMV_REG_K)).cast("bigint").alias("hv"),
        )
        .groupBy("modalidade_pagamento", "reg")
        .agg(F.min("hv").alias("m"))
    )


def kmv_register_estimate(registers: DataFrame) -> DataFrame:
    """Read-side distinct estimate off a register table (batch frame or
    a complete-mode sink's contents): the harmonic-style
    n_hat = K^2*R / (sum_hit m_j + (K - hit)*R) - K (see KMV_REG_R's
    derivation — tail-robust in both the sparse- and dense-register
    regimes). Arithmetic only — no stateful op, so the streaming
    pipeline stays MIN-only and the estimator can be recomputed from
    any snapshot."""
    k = float(KMV_REG_K)
    r = float(KMV_REG_R)
    agg = registers.groupBy("modalidade_pagamento").agg(
        F.sum(F.col("m").cast("double")).alias("_sum_m"),
        F.count("*").alias("registers_hit"),
    )
    denom = (
        F.col("_sum_m")
        + (F.lit(k) - F.col("registers_hit").cast("double")) * F.lit(r)
    )
    return agg.select(
        "modalidade_pagamento",
        # domain guard (the degenerate-corpus invariant): denom is 0
        # only when every register is hit with min 0 — a saturated
        # sketch has no finite estimate, and ANSI would throw on the
        # division; NULL in that (astronomically unlikely) case.
        F.when(
            denom > 0.0,
            F.round(F.lit(k * k * r) / denom - F.lit(k), 6),
        ).alias("pagadores_kmv_reg"),
        "registers_hit",
    )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate per-payer transaction counts for the exact top-N payers
    from a D x W Count-Min sketch, with the exact count as witness
    (tx_cms >= tx_exato always; equality whenever no collision landed in
    all D of the payer's cells).

    Build: each transaction increments D cells (one per hash row); the
    grouped count is the cell table — at most CMS_D x CMS_W = 2048 rows
    total at ANY corpus size, the bounded-memory frequency story. Probe:
    the exact top-N (TakeOrdered — no global sort) joins the broadcast
    cell table on its D (d, bucket) coordinates and takes the min."""
    tx = datamodel.transactions(spark, sf_dir)
    coords = cms_coords(F.col("id_usuario_pagador"))
    cells = cms_cells(tx)
    top = (
        tx.groupBy("id_usuario_pagador")
        .agg(F.count("*").alias("tx_exato"))
        .orderBy(F.desc("tx_exato"), F.asc("id_usuario_pagador"))
        .limit(CMS_TOP)
    )
    probes = top.select(
        "id_usuario_pagador", "tx_exato", F.explode(coords).alias("c")
    ).select("id_usuario_pagador", "tx_exato", "c.d", "c.bucket")
    return (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("id_usuario_pagador", "tx_exato")
        .agg(F.min("cell").alias("tx_cms"))
        .select("id_usuario_pagador", "tx_exato", "tx_cms")
    )


_CMS_CELL_ARMS = "\n        UNION ALL\n        ".join(
    f"SELECT {d} AS d, "
    f"{_lcg_bucket_sql('id_usuario_pagador', *_HASH_CONSTANTS[d], CMS_W)}"
    " AS bucket FROM transactions"
    for d in range(CMS_D)
)

_CMS_PROBE_ARMS = "\n        UNION ALL\n        ".join(
    f"SELECT id_usuario_pagador, tx_exato, {d} AS d, "
    f"{_lcg_bucket_sql('id_usuario_pagador', *_HASH_CONSTANTS[d], CMS_W)}"
    " AS bucket FROM cms_top"
    for d in range(CMS_D)
)

_CMS_CTES = f"""
cms_cells AS (
    SELECT d, bucket, COUNT(*) AS cell
    FROM (
        {_CMS_CELL_ARMS}
    )
    GROUP BY 1, 2
),
cms_top AS (
    SELECT id_usuario_pagador, COUNT(*) AS tx_exato
    FROM transactions GROUP BY 1
    ORDER BY tx_exato DESC, id_usuario_pagador ASC LIMIT {CMS_TOP}
)
"""

CMS_HEAVY_HITTERS_SQL = datamodel.with_ctes(
    f"""
SELECT p.id_usuario_pagador, CAST(p.tx_exato AS BIGINT) AS tx_exato,
       CAST(MIN(c.cell) AS BIGINT) AS tx_cms
FROM (
    {_CMS_PROBE_ARMS}
) p
JOIN cms_cells c ON p.d = c.d AND p.bucket = c.bucket
GROUP BY 1, 2""",
    extra_ctes=_CMS_CTES,
)


# --- Bloom-filter membership screen ------------------------------------------


def _shared_bloom_payers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payer bloom membership flags, ``.cache()``d once per session
    and sf_dir (operators/memo.shared)."""
    return memo.shared(
        spark,
        sf_dir,
        "bloom_payers",
        lambda: datamodel.transactions(spark, sf_dir)
        .groupBy("id_usuario_pagador")
        .agg(
            (
                F.max("valor_transacao") > F.lit(BLOOM_VALUE_THRESHOLD)
            ).alias("is_member")
        )
        .cache(),
    )


def bloom_filter_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row report of a Bloom-filter membership screen over distinct
    payers: the member set is "payers with any transaction above
    BLOOM_VALUE_THRESHOLD"; every distinct payer is probed against the
    filter and the false-positive tally is reported alongside the exact
    semi-join answer.

    This is the runtime-filter / semi-join-pushdown shape: at 100 TB the
    member set never ships — only its <= BLOOM_BITS set-bit table (a few
    KB, broadcast), and the probe side is one narrow pass + broadcast
    join. Columns: total probed, exact members, bloom passes, false
    positives, fp rate (over non-members), bits set."""
    tx = datamodel.transactions(spark, sf_dir)
    # memoized: the payer aggregate feeds THREE branches (probe stream,
    # bit build, bit count) — uncached, each branch re-scans the fact
    # and re-runs the max-aggregate; memoizing (not per-call cache())
    # keeps repeated invocations in one session from leaking one
    # InMemoryRelation each (operators/memo.shared)
    payers = _shared_bloom_payers(spark, sf_dir)
    bit_arr = F.array(
        *[
            _lcg_bucket(
                F.col("id_usuario_pagador"), *_HASH_CONSTANTS[j], BLOOM_BITS
            )
            for j in range(BLOOM_J)
        ]
    )
    # derives from the memoized payers, so the double use (probe join +
    # bits_set count) re-reads memory, not the fact table
    bits = (
        payers.filter("is_member")
        .select(F.explode(bit_arr).alias("bit"))
        .distinct()
        .withColumn("set_", F.lit(1))
    )
    probes = payers.select(
        "id_usuario_pagador", "is_member", F.explode(bit_arr).alias("bit")
    )
    per_payer = (
        probes.join(F.broadcast(bits), "bit", "left")
        .groupBy("id_usuario_pagador", "is_member")
        .agg((F.count("set_") == F.lit(BLOOM_J)).alias("bloom_pass"))
    )
    n_bits = bits.select(F.count("*").alias("bits_set"))
    return (
        per_payer.agg(
            F.count("*").alias("n_pagadores"),
            F.sum(F.col("is_member").cast("bigint")).alias("n_membros"),
            F.sum(F.col("bloom_pass").cast("bigint")).alias("n_bloom_pass"),
            F.sum(
                (F.col("bloom_pass") & ~F.col("is_member")).cast("bigint")
            ).alias("n_falso_pos"),
        )
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_pagadores",
            "n_membros",
            "n_bloom_pass",
            "n_falso_pos",
            F.when(
                F.col("n_pagadores") > F.col("n_membros"),
                F.round(
                    F.col("n_falso_pos").cast("double")
                    / (F.col("n_pagadores") - F.col("n_membros")).cast(
                        "double"
                    ),
                    6,
                ),
            ).alias("taxa_falso_pos"),  # NULL when every payer is a member
            "bits_set",
        )
    )


_BLOOM_BITS_ARMS = "\n        UNION ALL\n        ".join(
    f"SELECT {_lcg_bucket_sql('id_usuario_pagador', *_HASH_CONSTANTS[j], BLOOM_BITS)}"
    " AS bit, id_usuario_pagador FROM members"
    for j in range(BLOOM_J)
)

_BLOOM_PROBE_ARMS = "\n        UNION ALL\n        ".join(
    f"SELECT id_usuario_pagador, is_member, "
    f"{_lcg_bucket_sql('id_usuario_pagador', *_HASH_CONSTANTS[j], BLOOM_BITS)}"
    " AS bit FROM payers"
    for j in range(BLOOM_J)
)

_BLOOM_CTES = f"""
payers AS (
    SELECT id_usuario_pagador,
           MAX(valor_transacao) > {BLOOM_VALUE_THRESHOLD!r} AS is_member
    FROM transactions GROUP BY 1
),
members AS (SELECT id_usuario_pagador FROM payers WHERE is_member),
bits AS (
    SELECT DISTINCT bit FROM (
        {_BLOOM_BITS_ARMS}
    )
),
per_payer AS (
    SELECT p.id_usuario_pagador, p.is_member,
           COUNT(b.bit) = {BLOOM_J} AS bloom_pass
    FROM (
        {_BLOOM_PROBE_ARMS}
    ) p
    LEFT JOIN bits b ON p.bit = b.bit
    GROUP BY 1, 2
)
"""

BLOOM_SCREEN_SQL = datamodel.with_ctes(
    f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_pagadores,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_membros,
       CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bloom_pass,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)
           AS BIGINT) AS n_falso_pos,
       CASE WHEN COUNT(*) > SUM(CASE WHEN is_member THEN 1 ELSE 0 END)
            THEN ROUND(
                CAST(SUM(CASE WHEN bloom_pass AND NOT is_member
                              THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(COUNT(*) - SUM(CASE WHEN is_member THEN 1 ELSE 0 END)
                       AS DOUBLE), 6)
       END AS taxa_falso_pos,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bits_set
FROM per_payer""",
    extra_ctes=_BLOOM_CTES,
)


def bloom_bits(tx: DataFrame) -> DataFrame:
    """The filter's set-bit table from a bounded member-defining frame:
    distinct bit positions of payers whose max transaction clears the
    membership threshold. <= BLOOM_BITS rows — broadcast-sized forever."""
    members = (
        tx.groupBy("id_usuario_pagador")
        .agg(F.max("valor_transacao").alias("mx"))
        .filter(F.col("mx") > F.lit(BLOOM_VALUE_THRESHOLD))
    )
    arr = F.array(
        *[
            _lcg_bucket(
                F.col("id_usuario_pagador"), *_HASH_CONSTANTS[j], BLOOM_BITS
            )
            for j in range(BLOOM_J)
        ]
    )
    return members.select(F.explode(arr).alias("bit")).distinct()


def streaming_bloom_screen(tx_stream: DataFrame, bits: list) -> DataFrame:
    """STATELESS streaming Bloom screen: flag every arriving transaction
    whose payer passes the history-trained filter — the Lambda pattern
    (batch-built state, broadcast into the stream) the MAD-alert twin
    also uses, with the member SET never shipping: `bits` is the
    driver-collected set-bit rows (<= BLOOM_BITS ints, literal-inlined
    = the broadcast). The probe is all-J membership of the row's hash
    positions in the literal bit array: NO state store, NO watermark,
    NO shuffle — append-safe at any trigger cadence.

    Same hash ladder as the batch screen, so the stream-vs-batch
    differential asserts flag EQUALITY per payer, not a tolerance."""
    lit_bits = F.array(*[F.lit(int(b.bit)) for b in bits])
    probes = [
        _lcg_bucket(
            F.col("id_usuario_pagador"), *_HASH_CONSTANTS[j], BLOOM_BITS
        )
        for j in range(BLOOM_J)
    ]
    passed = F.forall(
        F.array(*probes), lambda p: F.array_contains(lit_bits, p)
    )
    return tx_stream.select(
        "id_transacao",
        "id_usuario_pagador",
        "valor_transacao",
        passed.alias("bloom_pass"),
    )
