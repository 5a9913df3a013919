"""Property tests for the non-oracle extension operators: LSH recall vs
brute force, SimHash sanity, multimodal determinism."""

from __future__ import annotations

from banking_streaming_etl_spark.operators import dedup, multimodal, similarity

SF = "/root/testdata/sf0.001"


def test_minhash_lsh_equals_exact_jaccard(spark):
    exact = {
        (r.doc_a, r.doc_b) for r in dedup.near_dup_jaccard(spark, SF).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, SF).collect()
    }
    assert lsh == exact  # precision exact (verified), recall ~1 at J>=0.8
    assert len(exact) > 0  # the corpus has planted near-dups


def test_simhash_finds_planted_dups(spark):
    exact = {
        (r.doc_a, r.doc_b) for r in dedup.near_dup_jaccard(spark, SF).collect()
    }
    sim = {
        (r.doc_a, r.doc_b) for r in dedup.dedup_simhash(spark, SF).collect()
    }
    # SimHash-hamming<=7 is a different similarity; require strong overlap
    # with the planted exact near-dups, not equality.
    assert len(sim & exact) >= len(exact) * 0.5
    # signatures are 64-bit and deterministic across runs
    s1 = dedup.simhash_signatures(spark, SF).orderBy("doc_id").take(5)
    s2 = dedup.simhash_signatures(spark, SF).orderBy("doc_id").take(5)
    assert [r.simhash for r in s1] == [r.simhash for r in s2]


def test_lsh_topk_recall_vs_brute_force(spark):
    brute = similarity.ann_cosine_topk(spark, SF).collect()
    lsh = similarity.ann_lsh_topk(spark, SF).collect()
    top1_brute = {
        (r.query_id, r.neighbor_id) for r in brute if r.posicao == 1
    }
    top1_lsh = {(r.query_id, r.neighbor_id) for r in lsh if r.posicao == 1}
    # unstructured corpus = LSH worst case; OR-construction (8 tables x 4
    # planes) should still recover most top-1 neighbors
    recall = len(top1_brute & top1_lsh) / len(top1_brute)
    assert recall >= 0.5, f"top-1 recall {recall}"


def test_ivf_topk_recall_vs_brute_force(spark):
    brute = similarity.ann_cosine_topk(spark, SF).collect()
    ivf = similarity.ann_ivf_topk(spark, SF).collect()
    top1_brute = {(r.query_id, r.neighbor_id) for r in brute if r.posicao == 1}
    top1_ivf = {(r.query_id, r.neighbor_id) for r in ivf if r.posicao == 1}
    recall = len(top1_brute & top1_ivf) / len(top1_brute)
    # probing 4 of ~38 cells on an unstructured corpus
    assert recall >= 0.3, f"top-1 recall {recall}"
    # scoring consistency: any pair present in both rankings must carry
    # the exact same cosine (IVF re-ranks with the same expression)
    brute_cos = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    shared = [r for r in ivf if (r.query_id, r.neighbor_id) in brute_cos]
    assert len(shared) > 0
    for r in shared:
        assert r.cosine == brute_cos[(r.query_id, r.neighbor_id)]


def test_scrub_pii_planted_strings(spark):
    """Planted PII is redacted with the right typed token and counted;
    clean text passes through byte-identical."""
    from banking_streaming_etl_spark.functions import textfns
    from pyspark.sql import functions as F

    rows = [
        (1, "write to a.b+c@ex-ample.co.uk or admin@x.io today"),
        (2, "call +55 1234-5678 or 011 98765-4321 now"),
        (3, "host 10.0.0.1 talks to 192.168.255.255."),
        (4, "no pii here at all 123"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            *textfns.pii_counts(),
            textfns.scrub_pii().alias("t"),
        ).collect()
    }
    assert got[1].t == "write to <EMAIL> or <EMAIL> today"
    assert (got[1].n_email, got[1].n_phone, got[1].n_ip) == (2, 0, 0)
    assert got[2].t == "call <PHONE> or <PHONE> now"
    assert got[2].n_phone == 2
    assert got[3].t == "host <IP> talks to <IP>."
    assert got[3].n_ip == 2
    assert got[4].t == rows[3][1] and got[4].n_email == 0


def test_connected_components_matches_union_find(spark):
    """Differential: Spark min-label propagation vs a plain Python
    union-find on a graph that needs several propagation rounds (a long
    chain), plus a triangle, a pair, and a star."""
    edges = (
        [(i, i + 1) for i in range(10, 19)]  # chain 10..18 -> component 10
        + [(1, 2), (2, 3), (3, 1)]  # triangle
        + [(100, 200)]  # pair
        + [(50, 51), (50, 52), (50, 53)]  # star
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        (r.node, r.component)
        for r in dedup.connected_components(pairs).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    for u, v in edges:
        union(u, v)
    want = {(n, find(n)) for n in parent}
    assert got == want


def test_near_dup_lsh_matches_brute_force(spark):
    brute = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in similarity.near_dup_embeddings(spark, SF).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in similarity.near_dup_embeddings_lsh(spark, SF).collect()
    }
    # precision is exact (every candidate re-verified); on this corpus the
    # natural pair count may be zero, so the planted test below is the
    # positive-recall signal.
    assert lsh == brute


def test_near_dup_lsh_finds_planted_pairs(spark):
    """Planted near-dup pairs: v and v + tiny noise (cosine ~ 1) must
    surface through the bucketed path; a decoy orthogonal-ish set must
    not. Pins recall where the natural corpus has no qualifying pairs."""
    import math
    import random as _random

    from pyspark.sql import functions as F

    rng = _random.Random(7)
    dim = similarity.LSH_DIM
    rows = []
    for i in range(20):
        base = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        noisy = [x + rng.gauss(0.0, 0.001) for x in base]
        rows.append((2 * i, base))
        rows.append((2 * i + 1, noisy))
    # decoys: independent vectors, overwhelmingly cosine << 0.95
    for i in range(40, 60):
        rows.append((i * 10, [rng.gauss(0.0, 1.0) for _ in range(dim)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb = df.withColumn(
        "norm",
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ),
    ).cache()
    found = {
        (r.vec_a, r.vec_b): r.cosine
        for r in similarity.near_dup_pairs_lsh(emb).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(20)}
    assert planted <= set(found), planted - set(found)
    for pair in planted:
        assert found[pair] >= 0.99
    # no decoy pair sneaks in below the threshold
    assert all(c >= similarity.NEAR_DUP_COSINE for c in found.values())


def test_ivf_lloyd_training_improves_fit(spark):
    """Lloyd iterations must not degrade the clustering objective (mean
    cosine of each vector to its assigned centroid) and must preserve the
    fixed centroid budget."""
    from banking_streaming_etl_spark import datamodel
    from pyspark.sql import functions as F

    emb = similarity._with_norm(
        datamodel.load_table(spark, SF, "embeddings")
    ).cache()
    seed, _ = similarity.ivf_assignments(emb)

    def fit(cent):
        a = similarity.assign_to_centroids(emb, cent)
        return a.agg(F.avg("csim").alias("m")).first().m

    fit_seed = fit(seed)
    trained = similarity.ivf_train(emb, iterations=2)
    assert trained.count() == similarity.IVF_N_CENTROIDS
    fit_trained = fit(trained)
    # mean member->centroid cosine strictly improves on a random-seeded
    # unstructured corpus (small tolerance guards float noise)
    assert fit_trained >= fit_seed - 1e-9, (fit_seed, fit_trained)
    assert fit_trained > fit_seed * 1.01, (fit_seed, fit_trained)


def test_ivf_centroid_budget_is_fixed(spark):
    """Centroid count never exceeds the fixed broadcast budget and is a
    deterministic function of the id set (engine/partition independent)."""
    from banking_streaming_etl_spark import datamodel
    from pyspark.sql import functions as F

    emb = similarity._with_norm(
        datamodel.load_table(spark, SF, "embeddings")
    )
    cent1, _ = similarity.ivf_assignments(emb)
    cent2, _ = similarity.ivf_assignments(emb.repartition(7))
    ids1 = sorted(r.centroid_id for r in cent1.collect())
    ids2 = sorted(r.centroid_id for r in cent2.collect())
    assert ids1 == ids2
    assert len(ids1) == similarity.IVF_N_CENTROIDS


def test_quantize_embeddings_roundtrip(spark):
    from pyspark.sql import functions as F

    q = similarity.quantize_embeddings(spark, SF)
    rows = q.collect()
    assert len(rows) == 500
    # embedding_int8 is comma-joined text (driver hasher can't sort lists)
    for r in rows[:20]:
        vals = [int(v) for v in r.embedding_int8.split(",")]
        assert all(-127 <= v <= 127 for v in vals)
        assert r.escala > 0
    # dequantized max error bounded by scale/2 per element
    from banking_streaming_etl_spark import datamodel

    emb = {r.vec_id: r for r in rows}
    orig = {
        r.vec_id: r.embedding
        for r in datamodel.load_table(spark, SF, "embeddings").collect()
    }
    r0 = emb[0]
    for got_q, want in zip(
        (int(v) for v in r0.embedding_int8.split(",")), orig[0]
    ):
        assert abs(got_q * r0.escala - want) <= r0.escala / 2 + 1e-9


def test_frame_sampling_contract(spark):
    """Every payload expands to exactly n_frames independent rows,
    deterministically, with in-bounds offsets."""
    frames = multimodal.media_frame_samples(spark, SF)
    rows = frames.collect()
    assert len(rows) == 500 * 4
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert all(len(v) == 4 for v in by_doc.values())
    r0 = sorted(by_doc[0], key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in r0] == [0, 1, 2, 3]
    assert all(r.frame_offset >= 0 and len(r.frame_bytes) > 0 for r in r0)
    again = {
        (r.doc_id, r.frame_idx): r.frame_checksum
        for r in multimodal.media_frame_samples(spark, SF).collect()
    }
    assert all(again[(r.doc_id, r.frame_idx)] == r.frame_checksum for r in rows)


def test_media_features_deterministic(spark):
    feats = multimodal.media_features(spark, SF)
    rows = {r.doc_id: r for r in feats.collect()}
    assert len(rows) == 500
    r0 = rows[0]
    assert r0.n_bytes > 0 and r0.checksum > 0
    assert len(r0.thumb) == 4
    # second run: byte-identical (stub decode is deterministic)
    again = {r.doc_id: r for r in multimodal.media_features(spark, SF).collect()}
    assert rows[7].checksum == again[7].checksum
    assert rows[7].thumb == again[7].thumb


def test_word_shingles_short_documents(spark):
    """Regression: documents with fewer than n tokens yield EMPTY shingle
    arrays (a naive sequence(1, size-2) descends and indexes out of range,
    crashing the whole dedup family on one short doc)."""
    from pyspark.sql import functions as F

    from banking_streaming_etl_spark.functions import textfns

    df = spark.createDataFrame(
        [("one",), ("only two",), ("now three tokens",), ("four tokens right here",)],
        ["text"],
    ).withColumn("toks", textfns.tokens())
    rows = df.select(
        "text", F.size(textfns.word_shingles("toks", 3)).alias("n")
    ).collect()
    got = {r.text: r.n for r in rows}
    assert got == {
        "one": 0,
        "only two": 0,
        "now three tokens": 1,
        "four tokens right here": 2,
    }


def test_stratified_sample_fractions(spark):
    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.operators import sampling

    t = datamodel.transactions(spark, SF)
    totals = {
        r.modalidade_pagamento: r["count"]
        for r in t.groupBy("modalidade_pagamento").count().collect()
    }
    sampled = {
        r.modalidade_pagamento: r["count"]
        for r in sampling.stratified_sample(spark, SF)
        .groupBy("modalidade_pagamento")
        .count()
        .collect()
    }
    assert sampled["purchase"] == totals["purchase"]  # fraction 1.0 is exact
    for m in ("click", "error", "signup", "view"):
        frac = sampled.get(m, 0) / totals[m]
        assert 0.05 <= frac <= 0.4, (m, frac)  # ~0.2 with Bernoulli variance


def test_train_test_split_deterministic_and_balanced(spark):
    from banking_streaming_etl_spark.operators import sampling

    a = {(r.doc_id, r.split) for r in sampling.train_test_split_docs(spark, SF).collect()}
    b = {(r.doc_id, r.split) for r in sampling.train_test_split_docs(spark, SF).collect()}
    assert a == b  # pure function of the key
    n_train = sum(1 for _, s in a if s == "train")
    assert 0.7 <= n_train / len(a) <= 0.9  # ~80%


def _has_pil() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_decode_real_gated_without_pil():
    import pytest

    if _has_pil():
        pytest.skip("PIL installed: the real decoder is live, not gated")
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(b"FAKE")


def test_decode_real_matches_contract_with_pil():
    """Differential: the real PIL decoder honors the same (width, height,
    rgb bytes) tuple contract `_decode_fake` defines, on a deterministic
    synthetic RGB image round-tripped through PNG."""
    import pytest

    if not _has_pil():
        pytest.skip("PIL not in this container (decode stays gated)")
    import io

    from PIL import Image

    w, h = 12, 7
    rgb = bytes((x * 7 + y * 31 + c * 13) % 256
                for y in range(h) for x in range(w) for c in range(3))
    im = Image.frombytes("RGB", (w, h), rgb)
    buf = io.BytesIO()
    im.save(buf, format="PNG")
    got_w, got_h, got_body = multimodal.decode_image_real(buf.getvalue())
    assert (got_w, got_h) == (w, h)  # same shape contract as _decode_fake
    assert got_body == rgb  # PNG is lossless: exact byte round-trip


def test_fuzzy_dedup_planted_pairs(spark):
    """Planted typo pairs must surface through the first-token block;
    pairs in different blocks are (documented) blocking misses; pairs
    beyond the edit bound stay out."""
    rows = [
        (1, "banana chocolate lace"),
        (2, "banana chocolates lace"),      # lev 1, same block -> pair
        (3, "banana chocolate lace"),       # exact dup of 1 -> dist 0
        (4, "goldenrod spring powder"),
        (5, "goldenrod spring powder puff veryverylong"),  # len gap > 3
        (6, "plum chocolate lace"),         # other block: miss by design
    ]
    df = spark.createDataFrame(rows, "id long, nome string")
    found = {
        (r.id_a, r.id_b): r.distancia
        for r in dedup.fuzzy_name_pairs(df).collect()
    }
    assert found[(1, 2)] == 1
    assert found[(1, 3)] == 0
    assert found[(2, 3)] == 1
    assert (4, 5) not in found
    assert all(a != 6 and b != 6 for (a, b) in found)


def test_chunk_documents_boundaries(spark):
    """Chunk grid: ids contiguous from 0, every non-final chunk exactly
    CHUNK_SIZE tokens, final chunk covers the tail — reconstructing
    n_tokens = stride * (n_chunks - 1) + len(last chunk)."""
    from banking_streaming_etl_spark.plans import text

    chunks = text.chunk_documents(spark, SF).toPandas()
    toks = text.token_counts(spark, SF).toPandas().set_index("doc_id")
    for doc_id, g in chunks.groupby("doc_id"):
        g = g.sort_values("chunk_id")
        n = int(toks.loc[doc_id, "n_tokens"])
        expect_chunks = (
            1 + -(-(n - text.CHUNK_SIZE) // text.CHUNK_STRIDE)
            if n > text.CHUNK_SIZE
            else 1
        )
        assert len(g) == expect_chunks
        assert list(g["chunk_id"]) == list(range(len(g)))
        assert (g["n_tokens_chunk"].iloc[:-1] == text.CHUNK_SIZE).all()
        last = int(g["n_tokens_chunk"].iloc[-1])
        assert text.CHUNK_STRIDE * (len(g) - 1) + last == n or len(g) == 1 and last == n


def test_repetition_stats_match_python_recount(spark):
    """Re-derive the n-gram fractions in plain Python for a sample of
    documents and compare exactly (same rounding)."""
    from collections import Counter

    import duckdb

    from banking_streaming_etl_spark.plans import text

    got = (
        text.repetition_stats(spark, SF)
        .filter("doc_id < 20")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{SF}/documents.parquet' WHERE doc_id < 20"
        ).fetchall()
    )
    for doc_id, t in texts.items():
        toks = t.split(" ")
        if len(toks) < 3:
            continue
        for n in (2, 3):
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            c = Counter(grams)
            total, dist, top = len(grams), len(c), max(c.values())
            row = got.loc[doc_id]
            assert row[f"n_{n}grams"] == total
            assert row[f"frac_dup_{n}gram"] == (total - dist) / total
            assert row[f"frac_top_{n}gram"] == top / total


def test_pack_sequences_invariants(spark):
    """Per source shard: offsets are the prefix sums of token counts in
    doc_id order and pack_id is the offset divided by the budget."""
    from banking_streaming_etl_spark.plans import curation

    df = curation.pack_sequences(spark, SF).toPandas()
    for _, g in df.groupby("source"):
        g = g.sort_values("doc_id")
        run = 0
        for _, row in g.iterrows():
            assert row["offset_inicio"] == run
            assert row["pack_id"] == run // curation.PACK_BUDGET
            run += row["n_tokens"]


def test_decontaminate_flags_cross_split_near_dups(spark):
    """Every flagged train doc must genuinely share an 8-gram with some
    test doc (re-derived in Python), and the corpus's planted cross-split
    near-dups must surface."""
    from banking_streaming_etl_spark.plans import curation
    from banking_streaming_etl_spark.operators import sampling

    import duckdb

    flagged = curation.decontaminate_train_docs(spark, SF).toPandas()
    assert len(flagged) > 0  # planted near-dups straddle the split
    split = {
        r.doc_id: r.split
        for r in sampling.train_test_split_docs(spark, SF).collect()
    }
    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{SF}/documents.parquet'"
        ).fetchall()
    )
    n = curation.DECON_SHINGLE_N

    def grams(t):
        toks = t.split(" ")
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    test_grams = set()
    for d, t in texts.items():
        if split[d] == "test":
            test_grams |= grams(t)
    for _, row in flagged.iterrows():
        assert split[row["doc_id"]] == "train"
        shared = grams(texts[row["doc_id"]]) & test_grams
        assert len(shared) == row["n_shingles_contaminados"]


def test_graph_push_modes_identical(spark, monkeypatch):
    """The $SPARK_GRAFT_GRAPH_PUSH knob (round-15: bcast | shuffle score
    frame attach in the iterative graph loops) must not move a single
    value — join strategy never reorders a 9-rounded decimal sum."""
    from banking_streaming_etl_spark.operators import graph

    results = {}
    for mode in ("bcast", "shuffle"):
        monkeypatch.setenv("SPARK_GRAFT_GRAPH_PUSH", mode)
        hits = sorted(tuple(r) for r in graph.payer_hits(spark, SF).collect())
        pr = sorted(
            tuple(r) for r in graph.payer_pagerank(spark, SF).collect()
        )
        results[mode] = (hits, pr)
    assert results["bcast"] == results["shuffle"]


def test_payer_hits_releases_superseded_push_pins(spark, persisted_rdd_ids):
    """Lifecycle: every HITS push pins its aggregate, but once the loop
    has run only the pins the returned plan reads may survive — the node
    checkpoint and the last two push aggregates (under the authority and
    hub frames). The first call warms the session's shared inputs. Both
    frames are held, and the second call's pins are the RDD ids the
    first read did not have, so no release in between hides one."""
    from banking_streaming_etl_spark.operators import graph

    first = graph.payer_hits(spark, SF)
    first.collect()
    before = persisted_rdd_ids()
    second = graph.payer_hits(spark, SF)
    second.collect()
    assert len(persisted_rdd_ids() - before) <= 1 + 2


def test_pagerank_sanity(spark):
    """Rank mass and ordering sanity: every rank >= the teleport floor,
    hubs (recipients with many distinct payers) outrank leaves, and the
    result is deterministic across runs."""
    from banking_streaming_etl_spark.operators import graph
    from banking_streaming_etl_spark import datamodel
    from pyspark.sql import functions as F

    pr = graph.payer_pagerank(spark, SF)
    rows = {r.id_usuario: r.rank for r in pr.collect()}
    edges, nodes = graph._graph(spark, SF)
    n = nodes.count()
    floor = (1 - graph.DAMPING) / n
    assert all(r >= round(floor, 4) for r in rows.values())

    indeg = {
        r.dst: r.c
        for r in edges.groupBy("dst").agg(F.count("*").alias("c")).collect()
    }
    top = max(rows, key=rows.get)
    # the top-ranked node is among the most-linked-to recipients
    assert indeg.get(top, 0) >= sorted(indeg.values())[-5]

    again = {r.id_usuario: r.rank for r in graph.payer_pagerank(spark, SF).collect()}
    assert rows == again


def test_audio_windows_contract(spark):
    """Audio windowing: deterministic, windows tile each payload at the
    configured stride, and features are finite."""
    import math

    got = multimodal.media_audio_windows(spark, SF).toPandas()
    again = multimodal.media_audio_windows(spark, SF).toPandas()
    key = ["doc_id", "window_idx"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        again.sort_values(key).reset_index(drop=True)
    )
    assert len(got) > 0
    for _, g in got.groupby("doc_id"):
        g = g.sort_values("window_idx")
        assert list(g["window_idx"]) == list(range(len(g)))
        assert list(g["sample_offset"]) == [128 * i for i in range(len(g))]
        assert (g["rms"] >= 0).all() and g["rms"].map(math.isfinite).all()
        assert (g["peak"] <= 128).all()


def test_semantic_dedup_keeps_cluster_minimum_and_drops_someone(spark):
    """Greedy keep-earliest guarantees the lowest vec_id of every cluster
    survives; the tau=0.40 threshold sits below this corpus's max pairwise
    cosine so the prune is exercised (nonzero drops)."""
    from banking_streaming_etl_spark.operators import embeddings

    out = embeddings.semantic_dedup(spark, SF).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    for cluster, rows in by_cluster.items():
        lowest = min(rows, key=lambda r: r.vec_id)
        assert lowest.mantido, f"cluster {cluster} dropped its lowest id"
    dropped = [r for r in out if not r.mantido]
    assert dropped, "tau should drop at least one vector on this corpus"
    assert len(dropped) < len(out)


def test_jl_projection_preserves_pairwise_distances(spark):
    """JL guarantee, measured: squared distances in the 16-dim sketch
    correlate strongly with the 64-dim originals over a vector sample."""
    import itertools
    import math

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.operators import embeddings as emb_ops

    orig = {
        r.vec_id: r.embedding
        for r in datamodel.load_table(spark, SF, "embeddings")
        .filter("vec_id < 40")
        .collect()
    }
    proj = {}
    for r in emb_ops.jl_project_embeddings(spark, SF).filter(
        "vec_id < 40"
    ).collect():
        proj.setdefault(r.vec_id, [0.0] * emb_ops.JL_DIM)[r.pos] = r.valor

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    ids = sorted(orig)
    ratios = sorted(
        d2(proj[a], proj[b]) / d2(orig[a], orig[b])
        for a, b in itertools.combinations(ids, 2)
    )
    n = len(ratios)
    # JL at K=16 (eps ~ 1/sqrt(K) ~ 0.25 per pair, chi^2_16 tails): the
    # sketch must be unbiased (median ratio ~ 1) with bounded bulk
    # distortion. Measured on this corpus: median 1.01, p5 0.54, p95 1.76.
    assert 0.85 < ratios[n // 2] < 1.15, ratios[n // 2]
    assert ratios[n // 20] > 0.35, ratios[n // 20]
    assert ratios[-n // 20] < 2.2, ratios[-n // 20]
    assert math.isfinite(ratios[-1])


def test_phash_near_dup_images_finds_planted_near_identical_payloads(spark):
    """A payload differing by a few bytes must land within hamming <= 7 of
    its source (found); unrelated payloads must not pair up wholesale."""
    import pandas as pd

    from banking_streaming_etl_spark.operators import multimodal as mm

    media = mm.synthesize_media(spark, SF).limit(40).cache()
    rows = media.collect()
    # plant: copy doc 0's payload under a new id with ONE body byte bumped
    src = rows[0]
    tweaked = bytearray(bytes(src.payload))
    tweaked[20] = (tweaked[20] + 1) % 256
    planted = spark.createDataFrame(
        pd.DataFrame(
            [{
                "doc_id": 10_000,
                "media_format": src.media_format,
                "width": src.width,
                "height": src.height,
                "payload": bytes(tweaked),
            }]
        ),
        schema=media.schema,
    )
    pairs = mm.near_dup_images(media.unionByName(planted)).collect()
    assert any(
        {p.doc_a, p.doc_b} == {src.doc_id, 10_000} for p in pairs
    ), pairs
    # sanity: nothing pairs the planted asset with unrelated docs at <= 7
    bogus = [
        p for p in pairs
        if 10_000 in (p.doc_a, p.doc_b)
        and {p.doc_a, p.doc_b} != {src.doc_id, 10_000}
    ]
    assert len(bogus) <= 2, bogus


def test_phash_is_deterministic(spark):
    from banking_streaming_etl_spark.operators import multimodal as mm

    media = mm.synthesize_media(spark, SF).limit(20)
    a = {r.doc_id: r.phash for r in mm.phash_media(media).collect()}
    b = {r.doc_id: r.phash for r in mm.phash_media(media).collect()}
    assert a == b and len(a) == 20


def test_semantic_dedup_cluster_count_is_a_budget_not_label_cardinality(spark):
    """The blocking key cardinality must follow the K = ceil(sqrt(N))
    budget (size-independent mechanism), NOT the corpus's label set (a
    data constant that let cluster sizes grow linearly with N)."""
    import math

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.operators import embeddings

    n = datamodel.load_table(spark, SF, "embeddings").count()
    k = math.ceil(math.sqrt(n))
    out = embeddings.semantic_dedup(spark, SF).collect()
    clusters = {r.cluster for r in out}
    assert len(clusters) <= k  # never more clusters than the budget
    assert len(clusters) >= k // 2  # hash sampling actually spreads
    n_labels = (
        datamodel.load_table(spark, SF, "embeddings")
        .select("label")
        .distinct()
        .count()
    )
    assert len(clusters) != n_labels  # decoupled from label cardinality


def test_pq_topk_recall_and_rerank_exactness(spark):
    """PQ-ADC with exact re-rank: top-1 recall against brute force must
    clear the bar on this unstructured corpus (hardest case), shared
    (query, neighbor) pairs must carry the EXACT brute-force cosine
    (the re-rank uses the same expression), and every database vector
    must encode to exactly PQ_M codes in [0, PQ_K)."""
    from banking_streaming_etl_spark import datamodel

    brute = similarity.ann_cosine_topk(spark, SF).collect()
    pq = similarity.ann_pq_topk(spark, SF).collect()
    top1_brute = {(r.query_id, r.neighbor_id) for r in brute if r.posicao == 1}
    top1_pq = {(r.query_id, r.neighbor_id) for r in pq if r.posicao == 1}
    recall = len(top1_brute & top1_pq) / len(top1_brute)
    # 0.8 measured with the norm-normalized ADC pool (ranking the pool by
    # raw ADC dot over-represented large-norm vectors: 0.5-0.6); the bar
    # pins the normalized-pool behavior with headroom for corpus drift.
    assert recall >= 0.7, f"top-1 recall {recall}"

    brute_cos = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    shared = [r for r in pq if (r.query_id, r.neighbor_id) in brute_cos]
    assert shared
    for r in shared:
        assert r.cosine == brute_cos[(r.query_id, r.neighbor_id)]

    emb = similarity._with_norm(datamodel.load_table(spark, SF, "embeddings"))
    codes = similarity.pq_encode(emb, similarity.pq_codebooks(emb)).collect()
    n_vecs = emb.count()
    assert len(codes) == n_vecs * similarity.PQ_M  # one code per subspace
    assert all(0 <= r.code < similarity.PQ_K for r in codes)


def test_hierarchical_assignment_quality_vs_exact(spark):
    """Two-level sqrt(K) assignment: exactly one cluster per vector, every
    assigned centroid comes from the budget, and quality holds against
    the exact path — agreement and mean assigned-cosine bars set on this
    UNSTRUCTURED corpus (the worst case: random vectors make coarse
    routing least informative; clustered real corpora do far better)."""
    import statistics

    from banking_streaming_etl_spark import datamodel

    emb = similarity._with_norm(
        datamodel.load_table(spark, SF, "embeddings")
    ).cache()
    cent, _ = similarity.ivf_assignments(emb)
    exact = {
        r.vec_id: (r.centroid_id, r.csim)
        for r in similarity.assign_to_centroids(emb, cent).collect()
    }
    hier = {
        r.vec_id: (r.centroid_id, r.csim)
        for r in similarity.assign_to_centroids_hierarchical(emb, cent).collect()
    }
    assert set(hier) == set(exact)  # one row per vector, none lost
    budget = {r.centroid_id for r in cent.collect()}
    assert {c for c, _ in hier.values()} <= budget
    agree = sum(1 for v in exact if exact[v][0] == hier[v][0]) / len(exact)
    assert agree >= 0.4, f"agreement {agree}"
    ratio = statistics.mean(v[1] for v in hier.values()) / statistics.mean(
        v[1] for v in exact.values()
    )
    assert ratio >= 0.8, f"assigned-cosine quality ratio {ratio}"
    # hierarchical csim can never exceed the exact nearest
    assert all(hier[v][1] <= exact[v][1] + 1e-12 for v in exact)


def test_kmv_sketch_estimate_quality(spark):
    """The KMV estimate must land within the sketch's statistical bounds
    (~1/sqrt(k-2) ~ 13% at k=64; assert a conservative 35%) wherever the
    group has >= k distinct values, and be NULL below k (no estimate is
    honest there)."""
    from banking_streaming_etl_spark.plans.relational import (
        KMV_K,
        kmv_distinct_payers,
    )

    rows = kmv_distinct_payers(spark, SF).collect()
    assert rows
    for r in rows:
        if r.pagadores_exato >= KMV_K:
            assert r.pagadores_kmv is not None
            rel = abs(r.pagadores_kmv - r.pagadores_exato) / r.pagadores_exato
            assert rel <= 0.35, (r.modalidade_pagamento, rel)
        else:
            assert r.pagadores_kmv is None


def test_equidepth_approx_agrees_with_exact_ntile(spark):
    """The sampled-boundary equi-depth twin must track the exact NTILE
    baseline: all rows assigned, every bucket populated, and each
    bucket's count within 35% of the ideal N/B mass (measured max
    deviation at this sf is ~14% — 2.5x headroom, still far below the
    2x mass error that would mean a boundary landed a whole bucket
    off)."""
    from banking_streaming_etl_spark import registry

    q = registry.all_queries()
    exact = {
        r["balde"]: r["n"]
        for r in q["equidepth_histogram_valor"].fn(spark, SF).collect()
    }
    approx = {
        r["balde"]: r["n"]
        for r in q["equidepth_histogram_approx"].fn(spark, SF).collect()
    }
    n = sum(exact.values())
    assert sum(approx.values()) == n  # every row lands in exactly one bucket
    b = len(exact)
    assert set(approx) == set(range(1, b + 1))
    ideal = n / b
    for balde, cnt in approx.items():
        assert abs(cnt - ideal) <= 0.35 * ideal, (balde, cnt, ideal)


def test_hierarchical_probe_count_recall_curve(spark):
    """The multi-probe knob's contract, tested rather than asserted:
    agreement with the exact assignment must be MONOTONE in
    coarse_probes on the unstructured worst-case corpus (measured
    0.43 / 0.54 / 0.82 at probes 1/2/4 here), and probing every
    super-cell (probes = G) must reproduce the exact path identically —
    the approximation comes ONLY from unprobed cells."""
    import math

    from banking_streaming_etl_spark import datamodel

    emb = similarity._with_norm(
        datamodel.load_table(spark, SF, "embeddings")
    ).cache()
    cent, _ = similarity.ivf_assignments(emb)
    exact = {
        r.vec_id: r.centroid_id
        for r in similarity.assign_to_centroids(emb, cent).collect()
    }

    def agreement(probes: int) -> float:
        hier = {
            r.vec_id: r.centroid_id
            for r in similarity.assign_to_centroids_hierarchical(
                emb, cent, coarse_probes=probes
            ).collect()
        }
        assert len(hier) == len(exact)
        return sum(1 for v, c in hier.items() if exact[v] == c) / len(exact)

    r1, r2, r4 = agreement(1), agreement(2), agreement(4)
    assert r1 <= r2 <= r4, (r1, r2, r4)
    assert r4 >= 0.7, (r1, r2, r4)  # measured 0.82; headroom for drift
    g = math.ceil(math.sqrt(cent.count()))
    assert agreement(g) == 1.0  # all cells probed -> exact by construction


def test_dup_span_planted_run(spark):
    """Planted duplicated block: two docs share a 10-token run inside
    otherwise-unique text; a third doc is fully unique. The shared block
    must produce max_run == 8 (10 tokens -> 8 positional 3-gram
    shingles) in both sharers and zero duplication in the unique doc."""
    block = " ".join(f"dup{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + block + " delta epsilon zeta"),
            (2, "one two three four " + block + " five six seven"),
            (3, "lonely words that never repeat anywhere else at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dedup.dup_span_frame(docs).collect()}
    assert rows[1].max_run == 8 and rows[2].max_run == 8
    assert rows[1].n_dup == 8 and rows[2].n_dup == 8
    assert rows[3].n_dup == 0 and rows[3].max_run == 0
    assert rows[3].frac_dup == 0.0
    # coverage fraction: 8 duplicated of (token_count - 2) positions
    # (output is ROUND(., 6))
    assert abs(rows[1].frac_dup - 8 / (16 - 2)) < 1e-6


def test_dup_span_within_doc_repeat_not_flagged(spark):
    """A shingle repeated WITHIN one doc but found in no other doc is
    not cross-doc duplication (the dup set counts distinct docs)."""
    docs = spark.createDataFrame(
        [(1, "echo echo echo echo echo unique tail words here")],
        "doc_id long, text string",
    )
    rows = dedup.dup_span_frame(docs).collect()
    assert rows[0].n_dup == 0 and rows[0].max_run == 0


def test_kmv_overlap_estimates_track_exact(spark):
    """KMV union/intersection estimates must land within the sketch's
    statistical bounds against the exact witnesses wherever the union
    sketch is saturated (n >= K): union within 35% relative, and the
    intersection within 35% of the union size as an absolute yardstick
    (the Jaccard estimator's error scales with |union|/k, so tiny
    intersections carry wide relative bands)."""
    from banking_streaming_etl_spark.plans.relational import (
        KMV_K,
        kmv_modality_overlap,
    )

    rows = kmv_modality_overlap(spark, SF).collect()
    assert len(rows) >= 3
    for r in rows:
        assert r.ma < r.mb
        assert r.uniao_exata >= r.intersecao_exata
        if r.uniao_exata >= KMV_K:
            rel = abs(r.uniao_kmv - r.uniao_exata) / r.uniao_exata
            assert rel <= 0.35, (r.ma, r.mb, rel)
            abs_err = abs(r.intersecao_kmv - r.intersecao_exata)
            assert abs_err <= 0.35 * r.uniao_exata, (r.ma, r.mb, abs_err)


def test_transition_matrix_rows_are_distributions(spark):
    """Each `anterior` row of the transition matrix is a probability
    distribution: probabilities sum to ~1 and every count is positive;
    total transition mass = (events - users with any event)."""
    from banking_streaming_etl_spark.plans.behavior import (
        event_transition_matrix,
    )

    rows = event_transition_matrix(spark, SF).collect()
    assert rows
    by_prev: dict[str, float] = {}
    n_total = 0
    for r in rows:
        assert r.n > 0
        by_prev[r.anterior] = by_prev.get(r.anterior, 0.0) + r.probabilidade
        n_total += r.n
    for prev, s in by_prev.items():
        assert abs(s - 1.0) < 1e-4, (prev, s)
    from banking_streaming_etl_spark import datamodel

    t = datamodel.transactions(spark, SF)
    n_tx = t.count()
    n_users = t.select("id_usuario_pagador").distinct().count()
    assert n_total == n_tx - n_users


def test_interleave_sources_spread(spark):
    """Interleave keys: per-source positions are a 1..n permutation, the
    stride equalizes endpoints (every source's last doc lands at key ~
    N_total), and consecutive keys of the SMALLEST source are spread at
    least one big-source stride apart — small sources never clump."""
    from banking_streaming_etl_spark.plans.curation import interleave_sources

    rows = interleave_sources(spark, SF).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    n_total = len(rows)
    assert len(by_source) >= 2
    for src, rs in by_source.items():
        positions = sorted(x.posicao_na_fonte for x in rs)
        assert positions == list(range(1, len(rs) + 1))
        assert abs(max(x.chave_intercalacao for x in rs) - n_total) < 1e-6
    smallest = min(by_source.values(), key=len)
    keys = sorted(x.chave_intercalacao for x in smallest)
    min_gap = min(b - a for a, b in zip(keys, keys[1:]))
    assert min_gap >= n_total / len(smallest) - 1e-6


def test_dedup_incremental_exact_flags(spark):
    """dup_exata must equal 'content digest occurs in the index side',
    recomputed independently; an exact dup with >= 3 tokens must have a
    perfect best-Jaccard match."""
    from pyspark.sql import functions as F

    from banking_streaming_etl_spark import datamodel

    res = {r.doc_id: r for r in dedup.dedup_incremental(spark, SF).collect()}
    docs = datamodel.load_table(spark, SF, "documents").select(
        "doc_id", F.md5("text").alias("fp"),
        F.size(F.split("text", " ")).alias("ntok"),
    )
    rows = docs.collect()
    idx_fps = {r.fp for r in rows if r.doc_id % dedup.INCREMENTAL_MOD != 0}
    new_rows = [r for r in rows if r.doc_id % dedup.INCREMENTAL_MOD == 0]
    assert set(res) == {r.doc_id for r in new_rows}
    for r in new_rows:
        expected = r.fp in idx_fps
        assert res[r.doc_id].dup_exata == expected, r.doc_id
        if expected and r.ntok >= dedup.SHINGLE_N:
            assert res[r.doc_id].melhor_jaccard == 1.0, res[r.doc_id]
    # the corpus's planted near-dups cross the split: some new docs must
    # surface a high-Jaccard index match (measured: 9 pairs >= 0.8 at
    # sf0.001; no exact dup happens to cross the mod-5 boundary there,
    # which the flag-equivalence loop above still fully validates)
    assert sum(
        1
        for r in res.values()
        if r.melhor_jaccard is not None and r.melhor_jaccard >= 0.8
    ) >= 3


# --- portable sketches (CMS / Bloom) ----------------------------------------


def test_cms_estimate_never_underestimates(spark):
    """Count-Min guarantee: the sketch estimate upper-bounds the true
    count for EVERY probed key (collisions only ever add)."""
    from banking_streaming_etl_spark.operators import sketches

    rows = sketches.cms_heavy_hitters(spark, SF).collect()
    assert len(rows) == sketches.CMS_TOP
    assert all(r.tx_cms >= r.tx_exato for r in rows), rows
    # the exact top list is ordered-deterministic: re-run agrees
    again = sketches.cms_heavy_hitters(spark, SF).collect()
    assert {(r.id_usuario_pagador, r.tx_cms) for r in rows} == {
        (r.id_usuario_pagador, r.tx_cms) for r in again
    }


def test_bloom_screen_has_no_false_negatives(spark):
    """Bloom guarantee: every true member passes, so passes decompose
    exactly into members + false positives; the bit table stays within
    the configured filter size."""
    from banking_streaming_etl_spark.operators import sketches

    r = sketches.bloom_filter_screen(spark, SF).collect()[0]
    assert r.n_bloom_pass >= r.n_membros
    assert r.n_bloom_pass == r.n_membros + r.n_falso_pos
    assert 0 < r.n_membros < r.n_pagadores
    assert r.bits_set <= min(
        sketches.BLOOM_BITS, r.n_membros * sketches.BLOOM_J
    )


def test_bpe_pair_counts_matches_python_recount(spark):
    """Differential vs a pure-Python recount of the first BPE iteration."""
    from collections import Counter

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.plans import text as textplans

    docs = datamodel.load_table(spark, SF, "documents").select("text").collect()
    wf = Counter()
    for row in docs:
        for w in row.text.lower().split(" "):
            if len(w) >= 2:
                wf[w] += 1
    pairs = Counter()
    for w, f in wf.items():
        for i in range(len(w) - 1):
            pairs[(w[i], w[i + 1])] += f
    expected = sorted(
        pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
    )[: textplans.BPE_PAIR_TOP]
    got = [
        ((r.a, r.b), r.freq)
        for r in textplans.bpe_pair_counts(spark, SF).collect()
    ]
    assert got == expected


def test_cumulative_distinct_payers_converges_to_exact(spark):
    """The final running total per modality equals the exact distinct
    payer count (the whole point of the first-touch decomposition)."""
    from pyspark.sql import functions as F

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.plans import relational

    out = relational.cumulative_distinct_payers(spark, SF)
    finals = {
        r.modalidade_pagamento: r.pagadores_acum
        for r in out.orderBy("modalidade_pagamento", "hora").collect()
        # last row per modality wins the dict slot
    }
    exact = {
        r.modalidade_pagamento: r.n
        for r in datamodel.transactions(spark, SF)
        .groupBy("modalidade_pagamento")
        .agg(F.countDistinct("id_usuario_pagador").alias("n"))
        .collect()
    }
    assert finals == exact


def test_source_overlap_bounds(spark):
    """Jaccard <= containment <= 1 and all source pairs are ordered."""
    from banking_streaming_etl_spark.plans import curation

    rows = curation.source_ngram_overlap(spark, SF).collect()
    assert rows, "no overlapping source pairs found"
    for r in rows:
        assert r.source_a < r.source_b
        assert 0.0 < r.jaccard <= r.containment <= 1.0


def test_ivf_pq_topk_recall_and_rerank_exactness(spark):
    """Composed IVFPQ: recall is bounded by the IVF probing ceiling (it
    scans the same probed lists as ann_ivf_topk, through PQ codes), so
    pin (a) top-1 recall vs brute force with headroom under the flat-IVF
    bar, (b) strong pair agreement with the IVF path, (c) exact re-rank
    cosines, (d) every vector encodes to exactly PQ_M residual codes in
    one IVF list."""
    from banking_streaming_etl_spark import datamodel

    brute = similarity.ann_cosine_topk(spark, SF).collect()
    ivf = similarity.ann_ivf_topk(spark, SF).collect()
    ivfpq = similarity.ann_ivf_pq_topk(spark, SF).collect()

    def top1(rows):
        return {(r.query_id, r.neighbor_id) for r in rows if r.posicao == 1}

    b1 = top1(brute)
    # measured 0.35 (flat IVF: 0.4 with the same probes) on this corpus
    assert len(b1 & top1(ivfpq)) / len(b1) >= 0.25

    ivf_pairs = {(r.query_id, r.neighbor_id) for r in ivf}
    pq_pairs = {(r.query_id, r.neighbor_id) for r in ivfpq}
    assert len(ivf_pairs & pq_pairs) / len(ivf_pairs) >= 0.75  # measured 0.9

    brute_cos = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    shared = [r for r in ivfpq if (r.query_id, r.neighbor_id) in brute_cos]
    assert shared
    for r in shared:
        assert r.cosine == brute_cos[(r.query_id, r.neighbor_id)]

    emb = similarity._with_norm(datamodel.load_table(spark, SF, "embeddings"))
    _, _, codes = similarity.ivf_pq_index(emb)
    per_vec = codes.groupBy("vec_id").count().collect()
    assert all(r["count"] == similarity.PQ_M for r in per_vec)
    lists = codes.select("vec_id", "centroid_id").distinct().groupBy(
        "vec_id"
    ).count().collect()
    assert all(r["count"] == 1 for r in lists)


def test_kmv_merge_equals_direct_sketch(spark):
    """Min-wise stability: the per-day-merged KMV estimate must EQUAL the
    direct whole-history estimate per modality (lossless merge), and
    multiple days must actually have been merged."""
    from banking_streaming_etl_spark.plans import relational

    merged = {
        r.modalidade_pagamento: (r.pagadores_kmv_merged, r.dias_mesclados)
        for r in relational.kmv_merge_rollup(spark, SF).collect()
    }
    direct = {
        r.modalidade_pagamento: r.pagadores_kmv
        for r in relational.kmv_distinct_payers(spark, SF).collect()
    }
    assert set(merged) == set(direct)
    for m in direct:
        assert merged[m][0] == direct[m], m
        assert merged[m][1] > 1  # genuinely merged across days


def test_pq_train_reduces_quantization_error(spark):
    """Lloyd monotonicity: per-subspace refined codebooks must not
    increase the mean squared quantization error over the training set
    (and should strictly decrease it on this unstructured corpus), while
    preserving the PQ_M x PQ_K codebook shape."""
    from pyspark.sql import functions as F

    from banking_streaming_etl_spark import datamodel

    emb = similarity._with_norm(datamodel.load_table(spark, SF, "embeddings"))
    vecs = emb.select("vec_id", "embedding")
    seed = similarity.pq_codebooks(vecs)
    trained = similarity.pq_train(vecs, iterations=2)
    assert trained.count() == similarity.PQ_M * similarity.PQ_K

    def mse(books):
        enc = (
            similarity._subspaces(vecs)
            .join(F.broadcast(books), "sub")
            .withColumn(
                "d2",
                F.aggregate(
                    F.zip_with(
                        F.col("svec"),
                        F.col("cvec"),
                        lambda x, y: (x.cast("double") - y.cast("double"))
                        * (x.cast("double") - y.cast("double")),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            )
            .groupBy("vec_id", "sub")
            .agg(F.min("d2").alias("d2"))
        )
        return enc.agg(F.avg("d2")).collect()[0][0]

    e_seed = mse(seed)
    e_trained = mse(trained)
    assert e_trained < e_seed, (e_seed, e_trained)


def test_ann_recall_eval_invariants(spark):
    """The recall report: brute force scores exactly 1.0 vs itself, every
    method lands in [0, 1], and the approximate paths find SOMETHING on
    this corpus (non-zero recall)."""
    rows = {
        r.metodo: (r.recall_top1, r.recall_topk)
        for r in similarity.ann_recall_eval(spark, SF).collect()
    }
    assert set(rows) == {"brute_force", "lsh", "ivf", "pq", "ivf_pq"}
    assert rows["brute_force"] == (1.0, 1.0)
    for m, (r1, rk) in rows.items():
        assert 0.0 <= r1 <= 1.0 and 0.0 <= rk <= 1.0, (m, r1, rk)
        if m != "brute_force":
            assert rk > 0.0, m


def test_pagerank_converged_agrees_with_fixed_rounds(spark):
    """Dynamic-stopping PageRank must stop before the cap, run at least
    as many rounds as the fixed-depth query, and agree with its ranks to
    the iteration tolerance."""
    from banking_streaming_etl_spark.operators import graph

    conv = graph.payer_pagerank_converged(spark, SF).collect()
    iters = {r.iteracoes for r in conv}
    assert len(iters) == 1
    n_it = iters.pop()
    assert graph.PAGERANK_ITERS <= n_it < graph.PAGERANK_MAX_ITERS

    fixed = {r.id_usuario: r.rank for r in graph.payer_pagerank(spark, SF).collect()}
    got = {r.id_usuario: r.rank for r in conv}
    assert set(got) == set(fixed)
    # converged ranks sit within the residual tail of the fixed-round run
    assert all(abs(got[u] - fixed[u]) < 1e-3 for u in fixed)


def test_sketch_and_model_artifacts_roundtrip_parquet(spark, tmp_path):
    """The serving artifacts (CMS cell table, Bloom bit set, learned BPE
    merges) persist to parquet and reload IDENTICALLY — the index-build
    lifecycle: build once, write the artifact, serve from the reload
    (probing the reloaded sketch equals probing the fresh one)."""
    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.operators import sketches
    from banking_streaming_etl_spark.plans import text as textplans

    tx = datamodel.transactions(spark, SF)

    cells = sketches.cms_cells(tx)
    cells.write.parquet(str(tmp_path / "cms"))
    reloaded = spark.read.parquet(str(tmp_path / "cms"))
    assert {tuple(r) for r in cells.collect()} == {
        tuple(r) for r in reloaded.collect()
    }

    bits = sketches.bloom_bits(tx)
    bits.write.parquet(str(tmp_path / "bloom"))
    rbits = spark.read.parquet(str(tmp_path / "bloom"))
    assert {r.bit for r in bits.collect()} == {r.bit for r in rbits.collect()}

    merges = textplans.bpe_learned_merges(spark, SF)
    merges.write.parquet(str(tmp_path / "bpe"))
    rmerges = spark.read.parquet(str(tmp_path / "bpe"))
    assert sorted(tuple(r) for r in merges.collect()) == sorted(
        tuple(r) for r in rmerges.collect()
    )


def test_risk_score_auc_matches_python_ranksum(spark):
    """Exact-AUC differential: the distributed Mann-Whitney rank-sum must
    equal a plain Python sort-and-sum over the collected frame (same
    (score, id) tie policy), and sit strictly above 0.5 (the score does
    separate denials — it is one of the three denial conditions)."""
    from banking_streaming_etl_spark.plans import dashboard

    rows = (
        dashboard._approved(spark, SF)
        .select("id_transacao", "score_medio", "transacao_aprovada")
        .collect()
    )
    order = sorted(rows, key=lambda r: (r.score_medio, r.id_transacao))
    s_pos = sum(
        i + 1 for i, r in enumerate(order) if not r.transacao_aprovada
    )
    n_pos = sum(1 for r in rows if not r.transacao_aprovada)
    n_neg = len(rows) - n_pos
    want = round((s_pos - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg), 6)

    got = dashboard.risk_score_auc(spark, SF).collect()[0]
    assert (got.n_pos, got.n_neg) == (n_pos, n_neg)
    assert got.auc == want
    assert got.auc > 0.5


def test_bootstrap_ci_brackets_mean_and_narrows_with_n(spark):
    """Statistical sanity of the Poisson bootstrap (parity is covered by
    the oracle gate): the 95% CI brackets the exact mean at both scales,
    and the interval NARROWS as N grows 10x (~1/sqrt(N) — assert strictly
    narrower, the property that matters)."""
    from banking_streaming_etl_spark.plans import dashboard

    widths = {}
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        r = dashboard.bootstrap_mean_ci(spark, sf).collect()[0]
        assert r.ic_inferior <= r.media <= r.ic_superior, r
        widths[sf] = r.ic_superior - r.ic_inferior
    assert widths["/root/testdata/sf0.01"] < widths["/root/testdata/sf0.001"]


def test_pca_matches_numpy_and_projection_variance(spark):
    """Distributed PCA differential: (1) the covariance assembled from
    the distributed moments equals numpy's np.cov of the collected
    corpus; (2) the reported spectrum equals numpy's eigenvalues;
    (3) projecting onto component k yields sample variance ~= lambda_k
    (the defining property of PCA), and the ratios sum to <= 1."""
    import numpy as np

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.operators import embeddings as embops

    X = np.array(
        [
            r.embedding
            for r in datamodel.load_table(spark, SF, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    want_cov = np.cov(X, rowvar=False)
    w_np = np.sort(np.linalg.eigvalsh(want_cov))[::-1]

    w, comps, mu, n = embops.pca_fit(spark, SF)
    assert n == X.shape[0]
    np.testing.assert_allclose(mu, X.mean(axis=0), rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(w, w_np, rtol=1e-7, atol=1e-10)

    report = embops.pca_embeddings(spark, SF).collect()
    assert len(report) == embops.PCA_K
    np.testing.assert_allclose(
        [r.autovalor for r in report], w[: embops.PCA_K], rtol=1e-12
    )
    assert sum(r.razao_variancia for r in report) <= 1.0 + 1e-9

    proj = embops.pca_project(
        datamodel.load_table(spark, SF, "embeddings"),
        comps[:3],
        mu,
    )
    rows = proj.select("pc1", "pc2", "pc3").collect()
    P = np.array([[r.pc1, r.pc2, r.pc3] for r in rows])
    np.testing.assert_allclose(
        P.var(axis=0, ddof=1), w[:3], rtol=1e-6
    )


def test_ivf_pq_index_artifact_roundtrip(spark, tmp_path):
    """The IVFPQ index artifacts (centroids / residual codebooks / codes)
    survive a parquet round-trip, and SERVING against the loaded index
    returns exactly the same top-K as serving against the freshly built
    one — the offline-build / online-serve split is a real artifact
    contract, not just a bench timing split."""
    from banking_streaming_etl_spark.operators import similarity

    emb = similarity.shared_normed_embeddings(spark, SF)
    cent, books, codes = similarity.ivf_pq_index(emb)
    parts = {}
    for name, df in (("cent", cent), ("books", books), ("codes", codes)):
        df.write.parquet(str(tmp_path / name))
        parts[name] = spark.read.parquet(str(tmp_path / name))
    fresh = similarity.ivf_pq_search(emb, cent, books, codes).collect()
    loaded = similarity.ivf_pq_search(
        emb, parts["cent"], parts["books"], parts["codes"]
    ).collect()
    assert sorted(map(tuple, fresh)) == sorted(map(tuple, loaded))
    assert fresh, "serving returned no rows"


def test_weighted_sample_is_deterministic_and_weight_enriched(spark):
    """A-Res weighted sampling: exact-K distinct output, identical across
    runs, and the sampled mean weight strictly exceeds the corpus mean
    (weight-proportional inclusion — the point of the operator); also
    differentially checked against a pure-Python A-Res on the same
    portable uniforms."""
    import math

    from pyspark.sql import functions as F

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.functions import portable
    from banking_streaming_etl_spark.operators import sampling

    out1 = sampling.weighted_sample_docs(spark, SF).collect()
    out2 = sampling.weighted_sample_docs(spark, SF).collect()
    assert len(out1) == sampling.WEIGHTED_K
    assert len({r.doc_id for r in out1}) == sampling.WEIGHTED_K
    assert {r.doc_id for r in out1} == {r.doc_id for r in out2}

    docs = datamodel.load_table(spark, SF, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("w")
    ).collect()
    corpus_mean = sum(r.w for r in docs) / len(docs)
    sample_mean = sum(r.peso_tokens for r in out1) / len(out1)
    assert sample_mean > corpus_mean

    # Python twin on the same uniforms
    def key(doc_id, w):
        h = ((doc_id % portable.M31) * 1103515245 + 12345) % portable.M31
        u = (h + 0.5) / portable.M31
        return math.log(u) / w

    want = {
        r.doc_id
        for r in sorted(
            docs, key=lambda r: (-key(r.doc_id, r.w), r.doc_id)
        )[: sampling.WEIGHTED_K]
    }
    assert {r.doc_id for r in out1} == want


def test_channel_attribution_matches_bruteforce(spark):
    """Full independent re-derivation of every attribution model from
    the collected transactions: journeys by literal sorting, linear /
    positional credits as Python fractions, and the Shapley value via
    the explicit permutation-free subset formula over the conversion-
    rate game. Also pins the efficiency axiom sum(phi) = v(N) - v(0)."""
    import itertools
    from fractions import Fraction

    import pytest

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.plans.behavior import (
        ATTRIB_CONVERSION_MIN_VALUE,
        channel_attribution,
    )

    out = {r.canal: r for r in channel_attribution(spark, SF).collect()}
    t = datamodel.transactions(spark, SF).select(
        "id_usuario_pagador", "modalidade_pagamento", "data_horario",
        "id_transacao", "valor_transacao",
    ).collect()
    by_user: dict[int, list] = {}
    for r in t:
        by_user.setdefault(r.id_usuario_pagador, []).append(r)
    jours = []  # (touch list sorted, converted)
    for u, rows in by_user.items():
        rows.sort(key=lambda r: (r.data_horario, r.id_transacao))
        conv_i = next(
            (i for i, r in enumerate(rows)
             if r.modalidade_pagamento == "purchase"
             and r.valor_transacao > ATTRIB_CONVERSION_MIN_VALUE),
            None,
        )
        pre = rows if conv_i is None else rows[:conv_i]
        touches = [r.modalidade_pagamento for r in pre
                   if r.modalidade_pagamento != "purchase"]
        if touches or conv_i is not None:
            jours.append((touches, conv_i is not None))
    chans = sorted({c for ts, _ in jours for c in ts})
    m = len(chans)
    # exact-set table on frozensets
    from collections import Counter, defaultdict

    n_jour: Counter = Counter()
    n_conv: Counter = Counter()
    for ts, conv in jours:
        s = frozenset(ts)
        n_jour[s] += 1
        n_conv[s] += conv
    def v(S: frozenset) -> float:
        j = sum(n for t_, n in n_jour.items() if t_ <= S)
        c = sum(n for t_, n in n_conv.items() if t_ <= S)
        return c / j if j else 0.0
    fact = [1] * (m + 1)
    for i in range(1, m + 1):
        fact[i] = fact[i - 1] * i
    for c in chans:
        others = [x for x in chans if x != c]
        phi = 0.0
        for r_ in range(m):
            for S in itertools.combinations(others, r_):
                Sf = frozenset(S)
                w = fact[len(S)] * fact[m - 1 - len(S)] / fact[m]
                phi += w * (v(Sf | {c}) - v(Sf))
        assert out[c].credito_shapley == pytest.approx(phi, abs=1e-10), c
    # efficiency: credits distribute v(all) - v(empty)
    tot = sum(out[c].credito_shapley for c in chans)
    assert tot == pytest.approx(
        v(frozenset(chans)) - v(frozenset()), abs=1e-10
    )
    # heuristic credits as exact fractions
    lin: dict[str, Fraction] = defaultdict(Fraction)
    pos: dict[str, Fraction] = defaultdict(Fraction)
    first: Counter = Counter()
    last: Counter = Counter()
    for ts, conv in jours:
        if not conv or not ts:
            continue
        first[ts[0]] += 1
        last[ts[-1]] += 1
        distinct = list(dict.fromkeys(ts))  # first-occurrence order
        k = len(distinct)
        for i, c in enumerate(distinct):
            lin[c] += Fraction(1, k)
            if k == 1:
                pos[c] += 1
            elif k == 2:
                pos[c] += Fraction(1, 2)
            elif i in (0, k - 1):
                pos[c] += Fraction(2, 5)
            else:
                pos[c] += Fraction(1, 5 * (k - 2))
    for c in chans:
        assert out[c].conv_primeiro_toque == first[c], c
        assert out[c].conv_ultimo_toque == last[c], c
        assert out[c].credito_linear == pytest.approx(float(lin[c]), abs=1e-12), c
        assert out[c].credito_posicional == pytest.approx(float(pos[c]), abs=1e-12), c
        # journey membership counts
        nj = sum(n for s, n in n_jour.items() if c in s)
        nc = sum(n for s, n in n_conv.items() if c in s)
        assert out[c].n_jornadas == nj and out[c].n_conversoes == nc, c


def test_kaplan_meier_matches_bruteforce(spark):
    """Independent product-limit re-derivation (the lifelines recipe):
    literal per-user durations, sequential risk-set bookkeeping, and the
    running product of (1 - d/n) — compared within the rounding pinned
    by the query (each ln term and the final S are ROUND(.,6))."""
    import math

    import pytest

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.plans.behavior import (
        ATTRIB_CONVERSION_MIN_VALUE,
        kaplan_meier_conversion,
    )

    rows = sorted(
        kaplan_meier_conversion(spark, SF).collect(),
        key=lambda r: r.t_segundos,
    )
    t = datamodel.transactions(spark, SF).select(
        "id_usuario_pagador", "modalidade_pagamento", "data_horario",
        "id_transacao", "valor_transacao",
    ).collect()
    by_user: dict[int, list] = {}
    for r in t:
        by_user.setdefault(r.id_usuario_pagador, []).append(r)
    durs = []
    for u, rs in by_user.items():
        rs.sort(key=lambda r: (r.data_horario, r.id_transacao))
        t0 = int(rs[0].data_horario.timestamp())
        conv = next(
            (r for r in rs if r.modalidade_pagamento == "purchase"
             and r.valor_transacao > ATTRIB_CONVERSION_MIN_VALUE),
            None,
        )
        if conv is not None:
            durs.append((int(conv.data_horario.timestamp()) - t0, True))
        else:
            tl = int(max(r.data_horario for r in rs).timestamp())
            durs.append((tl - t0, False))
    from collections import Counter

    d_cnt = Counter(t_ for t_, e in durs if e)
    c_cnt = Counter(t_ for t_, e in durs if not e)
    times = sorted(set(d_cnt) | set(c_cnt))
    assert [r.t_segundos for r in rows] == times
    n = len(durs)
    at_risk = n
    s = 1.0
    for r, t_ in zip(rows, times):
        d, c = d_cnt.get(t_, 0), c_cnt.get(t_, 0)
        assert (r.n_risco, r.n_eventos, r.n_censuras) == (at_risk, d, c), t_
        if d:
            s *= 1.0 - d / at_risk
        assert r.s_km == pytest.approx(s, abs=5e-6), t_
        at_risk -= d + c
    # survival is non-increasing and ends within [0, 1]
    for a, b in zip(rows, rows[1:]):
        assert a.s_km >= b.s_km - 1e-12
    assert 0.0 <= rows[-1].s_km <= 1.0


def test_rfm_segments_matches_bruteforce(spark):
    """NTILE(5) quintile assignment + segment means re-derived from the
    collected per-payer metrics (literal NTILE size rule: the first
    n % k buckets take ceil(n/k) rows)."""
    from collections import defaultdict
    from decimal import Decimal

    import pytest

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.plans.behavior import rfm_segments

    rows = (
        datamodel.transactions(spark, SF)
        .select("id_usuario_pagador", "data_horario", "valor_transacao")
        .collect()
    )
    per = defaultdict(lambda: [None, 0, Decimal(0)])
    for r in rows:
        p = per[r.id_usuario_pagador]
        ts = r.data_horario
        p[0] = ts if p[0] is None or ts > p[0] else p[0]
        p[1] += 1
        p[2] += Decimal(str(round(r.valor_transacao, 6)))
    now = max(p[0] for p in per.values())
    rec = {
        u: int((now - p[0]).total_seconds() * 1_000_000) // 3_600_000_000
        for u, p in per.items()
    }

    def ntile(keyed, k=5):
        order = sorted(keyed)  # (metric, payer) total order
        n = len(order)
        out, i = {}, 0
        for b in range(1, k + 1):
            size = n // k + (1 if b <= n % k else 0)
            for _, u in order[i : i + size]:
                out[u] = b
            i += size
        return out

    rq = ntile([(rec[u], u) for u in per])
    fq = ntile([(p[1], u) for u, p in per.items()])
    mq = ntile([(p[2], u) for u, p in per.items()])
    seg = defaultdict(lambda: [0, 0, 0, Decimal(0)])
    for u, p in per.items():
        s = seg[(rq[u], fq[u], mq[u])]
        s[0] += 1
        s[1] += rec[u]
        s[2] += p[1]
        s[3] += p[2]
    got = {(r.r_q, r.f_q, r.m_q): r for r in rfm_segments(spark, SF).collect()}
    assert set(got) == set(seg)
    for k_, s in seg.items():
        r = got[k_]
        assert r.segmento == "-".join(map(str, k_))
        assert r.n_pagadores == s[0]
        assert r.recencia_media_h == pytest.approx(s[1] / s[0], rel=1e-12)
        assert r.freq_media == pytest.approx(s[2] / s[0], rel=1e-12)
        assert r.valor_total == pytest.approx(float(s[3]), rel=1e-9)


def test_association_rules_match_bruteforce(spark):
    """Support/confidence/lift re-derived from literal per-payer
    modality sets."""
    from collections import Counter, defaultdict

    import pytest

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.plans.behavior import (
        association_rules_modality,
    )

    rows = (
        datamodel.transactions(spark, SF)
        .select("id_usuario_pagador", "modalidade_pagamento")
        .collect()
    )
    baskets = defaultdict(set)
    for r in rows:
        baskets[r.id_usuario_pagador].add(r.modalidade_pagamento)
    n_pay = len(baskets)
    item = Counter()
    pair = Counter()
    for b in baskets.values():
        for m in b:
            item[m] += 1
        for a in b:
            for c in b:
                if a != c:
                    pair[(a, c)] += 1
    got = {
        (r.antecedente, r.consequente): r
        for r in association_rules_modality(spark, SF).collect()
    }
    assert set(got) == set(pair)
    for (a, c), n in pair.items():
        r = got[(a, c)]
        assert (r.n_par, r.n_antecedente, r.n_consequente, r.n_pagadores) == (
            n, item[a], item[c], n_pay,
        )
        assert r.suporte == pytest.approx(n / n_pay, rel=1e-12)
        assert r.confianca == pytest.approx(n / item[a], rel=1e-12)
        assert r.lift == pytest.approx(
            n * n_pay / (item[a] * item[c]), rel=1e-12
        )
        # lift is symmetric; confidence need not be
        assert r.lift == pytest.approx(got[(c, a)].lift, rel=1e-12)


def test_gopher_repetition_matches_bruteforce(spark):
    """Repetition fractions re-derived with collections.Counter over the
    literal whitespace-token stream."""
    from collections import Counter

    import pytest

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.plans import text as T

    docs = {
        r.doc_id: r.text
        for r in datamodel.load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .collect()
    }
    got = {
        r.doc_id: r
        for r in T.gopher_repetition_signals(spark, SF).collect()
    }
    assert set(got) == set(docs)
    seen_keep = {True: 0, False: 0}
    for did, txt in docs.items():
        toks = txt.split(" ")
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        tc, gc = Counter(toks), Counter(grams)
        r = got[did]
        assert r.n_tokens == len(toks)
        assert r.n_2grams == len(grams)
        assert r.frac_token_dup == pytest.approx(
            (len(toks) - len(tc)) / len(toks), rel=1e-12
        )
        assert r.top_token_share == pytest.approx(
            max(tc.values()) / len(toks), rel=1e-12
        )
        keep = max(tc.values()) / len(toks) <= T.GOPHER_TOP_TOKEN_MAX
        if grams:
            assert r.frac_2gram_dup == pytest.approx(
                (len(grams) - len(gc)) / len(grams), rel=1e-12
            )
            assert r.top_2gram_share == pytest.approx(
                max(gc.values()) / len(grams), rel=1e-12
            )
            keep = keep and (
                (len(grams) - len(gc)) / len(grams) <= T.GOPHER_DUP_2GRAM_MAX
            ) and (max(gc.values()) / len(grams) <= T.GOPHER_TOP_2GRAM_MAX)
        else:
            assert r.frac_2gram_dup is None and r.top_2gram_share is None
        assert r.manter_gopher == keep
        seen_keep[keep] += 1
    # the filter must actually discriminate on this corpus
    assert seen_keep[True] > 0


def test_dedup_impact_matches_bruteforce(spark):
    """Cluster-size removal accounting re-derived from literal md5
    clusters with the min-doc_id keep policy."""
    import hashlib
    from collections import defaultdict

    import pytest

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.plans.curation import (
        dedup_impact_report,
    )

    rows = (
        datamodel.load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .collect()
    )
    clusters = defaultdict(list)
    for r in rows:
        clusters[hashlib.md5(r.text.encode()).hexdigest()].append(
            (r.doc_id, len(r.text.split(" ")))
        )
    per_size = defaultdict(lambda: [0, 0, 0, 0, 0])
    docs_tot = len(rows)
    toks_tot = sum(nt for c in clusters.values() for _, nt in c)
    for c in clusters.values():
        kept_nt = min(c)[1]  # min doc_id's token count
        s = per_size[len(c)]
        s[0] += 1
        s[1] += len(c)
        s[2] += len(c) - 1
        s[3] += sum(nt for _, nt in c)
        s[4] += sum(nt for _, nt in c) - kept_nt
    got = {r.tamanho_cluster: r for r in dedup_impact_report(spark, SF).collect()}
    assert set(got) == set(per_size)
    for size, s in per_size.items():
        r = got[size]
        assert (r.n_clusters, r.n_docs, r.docs_removidos,
                r.tokens_total, r.tokens_removidos) == tuple(s)
        assert r.fracao_docs_removidos == pytest.approx(
            s[2] / docs_tot, rel=1e-12
        )
        assert r.fracao_tokens_removidos == pytest.approx(
            s[4] / toks_tot, rel=1e-12
        )


def test_lexical_diversity_by_source_matches_bruteforce(spark):
    """TTR / unbiased Simpson / effective vocab re-derived with Counter
    per source."""
    from collections import Counter, defaultdict

    import pytest

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.plans.text import (
        lexical_diversity_by_source,
    )

    rows = (
        datamodel.load_table(spark, SF, "documents")
        .select("source", "text")
        .collect()
    )
    per = defaultdict(Counter)
    ndocs = Counter()
    for r in rows:
        per[r.source].update(r.text.split(" "))
        ndocs[r.source] += 1
    got = {
        r.source: r for r in lexical_diversity_by_source(spark, SF).collect()
    }
    assert set(got) == set(per)
    for src, tc in per.items():
        r = got[src]
        t = sum(tc.values())
        s2 = sum(c * (c - 1) for c in tc.values())
        assert (r.n_docs, r.n_tokens, r.vocabulario) == (
            ndocs[src], t, len(tc),
        )
        assert r.ttr == pytest.approx(len(tc) / t, rel=1e-12)
        assert r.simpson_d == pytest.approx(s2 / (t * (t - 1)), rel=1e-12)
        if s2:
            assert r.vocab_efetivo == pytest.approx(
                t * (t - 1) / s2, rel=1e-12
            )


def test_fano_dispersion_matches_bruteforce(spark):
    """Fano factor and dispersion z re-derived with statistics over the
    literal hourly count series."""
    import math
    import statistics
    from collections import Counter

    import pytest

    from banking_streaming_etl_spark.plans import stats
    from banking_streaming_etl_spark.plans.dashboard import _approved

    rows = (
        _approved(spark, SF)
        .select("modalidade_pagamento", "data_horario")
        .collect()
    )
    series = Counter(
        (r.modalidade_pagamento,
         r.data_horario.replace(minute=0, second=0, microsecond=0))
        for r in rows
    )
    by_mod = {}
    for (m, h), n in series.items():
        by_mod.setdefault(m, []).append(n)
    got = {
        r.modalidade_pagamento: r
        for r in stats.fano_dispersion_by_modality(spark, SF).collect()
    }
    assert set(got) == set(by_mod)
    for m, ns in by_mod.items():
        r = got[m]
        assert (r.horas, r.n_transacoes) == (len(ns), sum(ns))
        assert r.media_horaria == pytest.approx(
            statistics.mean(ns), rel=1e-12
        )
        if len(ns) > 1:
            var = statistics.variance(ns)
            fano = var / statistics.mean(ns)
            assert r.variancia == pytest.approx(var, rel=1e-9)
            assert r.fano == pytest.approx(fano, rel=1e-9)
            assert r.z_dispersao == pytest.approx(
                (fano - 1.0) * math.sqrt((len(ns) - 1) / 2.0), rel=1e-9
            )


def test_ltv_cohort_curve_matches_bruteforce(spark):
    """LTV triangle re-derived with literal per-cohort daily revenue
    accumulation (Decimal, matching the query's 6-rounded ingestion)."""
    from collections import defaultdict
    from decimal import Decimal

    import pytest

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.plans.behavior import ltv_cohort_curve

    rows = (
        datamodel.transactions(spark, SF)
        .select("id_usuario_pagador", "data_horario", "valor_transacao")
        .collect()
    )
    first = {}
    for r in rows:
        d = r.data_horario.date()
        u = r.id_usuario_pagador
        if u not in first or d < first[u]:
            first[u] = d
    cohort_users = defaultdict(int)
    for u, d in first.items():
        cohort_users[d] += 1
    daily = defaultdict(Decimal)
    for r in rows:
        c = first[r.id_usuario_pagador]
        age = (r.data_horario.date() - c).days
        daily[(c, age)] += Decimal(str(round(r.valor_transacao, 6)))
    got = {
        (r.dia_cohort.date(), r.idade_dias): r
        for r in ltv_cohort_curve(spark, SF).collect()
    }
    assert set(got) == set(daily)
    by_cohort = defaultdict(list)
    for (c, age), rev in daily.items():
        by_cohort[c].append((age, rev))
    for c, pairs in by_cohort.items():
        cum = Decimal(0)
        for age, rev in sorted(pairs):
            cum += rev
            r = got[(c, age)]
            assert r.receita_dia == pytest.approx(float(rev), rel=1e-9)
            assert r.receita_acumulada == pytest.approx(float(cum), rel=1e-9)
            assert r.usuarios_cohort == cohort_users[c]
            assert r.ltv_por_usuario == pytest.approx(
                float(cum) / cohort_users[c], rel=1e-9
            )


def test_source_vocab_jaccard_matches_bruteforce(spark):
    """Pairwise vocabulary Jaccard/containment re-derived with literal
    Python sets."""
    from collections import defaultdict
    from itertools import combinations

    import pytest

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.plans.text import source_vocab_jaccard

    rows = (
        datamodel.load_table(spark, SF, "documents")
        .select("source", "text")
        .collect()
    )
    vocab = defaultdict(set)
    for r in rows:
        vocab[r.source].update(r.text.split(" "))
    got = {
        (r.fonte_a, r.fonte_b): r
        for r in source_vocab_jaccard(spark, SF).collect()
    }
    expect = {
        (a, b): len(vocab[a] & vocab[b])
        for a, b in combinations(sorted(vocab), 2)
        if vocab[a] & vocab[b]
    }
    assert set(got) == set(expect)
    for (a, b), inter in expect.items():
        r = got[(a, b)]
        assert (r.vocab_a, r.vocab_b, r.intersecao) == (
            len(vocab[a]), len(vocab[b]), inter,
        )
        assert r.jaccard == pytest.approx(
            inter / len(vocab[a] | vocab[b]), rel=1e-12
        )
        assert r.contencao_a == pytest.approx(inter / len(vocab[a]),
                                              rel=1e-12)
        assert r.contencao_b == pytest.approx(inter / len(vocab[b]),
                                              rel=1e-12)


def test_km_greenwood_matches_bruteforce(spark):
    """Greenwood variance re-derived from the collected KM risk table
    with the query's documented 1e6-scaled 6-rounding per term."""
    import math

    import pytest

    from banking_streaming_etl_spark.plans.behavior import (
        kaplan_meier_conversion,
        kaplan_meier_greenwood,
    )
    from banking_streaming_etl_spark.plans.stats import WILSON_Z

    km = sorted(
        kaplan_meier_conversion(spark, SF).collect(),
        key=lambda r: r.t_segundos,
    )
    got = {
        r.t_segundos: r
        for r in kaplan_meier_greenwood(spark, SF).collect()
    }
    assert set(got) == {r.t_segundos for r in km}
    cum = 0.0
    prev_s = 1.0
    for r in km:
        d, n = r.n_eventos, r.n_risco
        if 0 < d < n:
            cum += round(d / (n * (n - d)) * 1e6, 6)
        g = got[r.t_segundos]
        # the curve columns pass through unchanged
        assert (g.n_risco, g.n_eventos, g.n_censuras, g.s_km) == (
            n, d, r.n_censuras, r.s_km,
        )
        var = r.s_km * r.s_km * (cum / 1e6)
        assert g.var_greenwood == pytest.approx(var, rel=1e-9, abs=1e-18)
        assert g.ep_greenwood == pytest.approx(math.sqrt(var), rel=1e-9,
                                               abs=1e-12)
        assert g.s_ic_inf == pytest.approx(
            max(0.0, r.s_km - WILSON_Z * math.sqrt(var)), abs=1e-9
        )
        assert g.s_ic_sup == pytest.approx(
            min(1.0, r.s_km + WILSON_Z * math.sqrt(var)), abs=1e-9
        )
        assert g.s_ic_inf - 1e-12 <= g.s_km <= g.s_ic_sup + 1e-12
        assert r.s_km <= prev_s + 1e-12
        prev_s = r.s_km


def test_media_byte_entropy_sniff_and_bounds(spark):
    """The oracle-backed byte-stats query (round 10): every synthetic
    payload carries the 'FAKE' magic regardless of its DECLARED format
    (the sniff must read bytes, not metadata), counts are internally
    consistent, and the entropy sits in (0, ln 256]. A planted real
    PNG magic must sniff as png — the ladder reads the payload."""
    import math

    from pyspark.sql import functions as F

    rows = multimodal.media_byte_entropy(spark, SF).collect()
    assert len(rows) == 500
    assert {r.formato_detectado for r in rows} == {"fake-rgb"}
    assert {r.media_format for r in rows} == {"png", "jpeg", "webp"}
    for r in rows:
        assert r.bytes_distintos <= r.n_bytes
        assert 1 <= r.contagem_modal <= r.n_bytes
        assert 0.0 < r.entropia_bytes <= math.log(256) + 1e-9

    # plant a real PNG header through the same hex ladder
    planted = spark.createDataFrame(
        [(1,)], "doc_id bigint"
    ).select(
        "doc_id",
        F.lit(b"\x89PNG\r\n\x1a\nrest").alias("payload"),
    )
    hx = planted.select(F.hex("payload").alias("h"))
    sniff = hx.select(
        F.when(F.expr("substring(h, 1, 8)") == "89504E47", "png")
        .otherwise("other")
        .alias("s")
    ).collect()[0].s
    assert sniff == "png"


def test_media_body_dedup_header_insensitive(spark):
    """Two payloads with the SAME body under DIFFERENT container headers
    must share a digest cluster; the canonical doc is the min doc_id."""
    from pyspark.sql import functions as F

    frame = spark.createDataFrame(
        [
            (1, "png", b"FAKE000017000018same-body"),
            (2, "jpeg", b"FAKE000099000077same-body"),
            (3, "webp", b"FAKE000017000018other-body"),
        ],
        "doc_id bigint, media_format string, payload binary",
    )
    body = frame.select(
        "doc_id",
        "media_format",
        F.sha2(F.expr("substring(payload, 17, 2147483647)"), 256).alias(
            "corpo_sha256"
        ),
    )
    rows = {r.doc_id: r.corpo_sha256 for r in body.collect()}
    assert rows[1] == rows[2]  # headers differ, body identical
    assert rows[1] != rows[3]

    # end-to-end over the synthetic corpus: every asset appears once,
    # cluster bookkeeping is internally consistent
    out = multimodal.media_body_dedup(spark, SF).collect()
    assert len(out) == 500
    assert all(r.doc_canonico <= r.doc_id for r in out)
    assert all(r.eh_canonico == (r.doc_id == r.doc_canonico) for r in out)
    assert all(1 <= r.formatos_no_cluster <= r.n_copias for r in out)


def test_macro_ndcg_grouped_equals_takeordered_union(spark):
    """The grouped-ranking macro-NDCG (runtime-query-set scale path) and
    the compile-time TakeOrdered-union form must agree EXACTLY — same
    memoized candidate/gains frames, same total order (value desc,
    doc_id asc), same DCG tail — so the only degree of freedom is the
    ranking machinery itself. Raw-value equality here; both variants
    are also bit-checked against the shared DuckDB oracle by the parity
    gate every run."""
    from banking_streaming_etl_spark.plans import text as text_plans

    a = text_plans.macro_ndcg_multi_query(spark, SF).collect()[0]
    b = text_plans.macro_ndcg_grouped(spark, SF).collect()[0]
    assert a.asDict() == b.asDict()
    # sanity: the benchmark actually ranks something at this SF
    assert a["rel_topk_total"] > 0


def test_macro_ndcg_grouped_plan_has_no_per_query_branches(spark):
    """The point of the grouped form: the physical plan must not grow
    with the query-set size. The union sibling plans one TakeOrdered
    branch per compile-time query; the grouped plan rides the bucketed
    grouped-ranking operator — no TakeOrderedAndProject, no global
    single-partition sort, and no unpartitioned window.

    Round-14: the registered query materializes the two ranking passes
    through a session memo (the checkpoint hides their windows behind
    an ExistingRDD in the query's own plan), so the window-shape checks
    walk the UNmaterialized pair the memo build executes
    (text._macro_grouped_ranked_lazy) — same machinery, inspectable
    plan."""
    from banking_streaming_etl_spark.plans import text as text_plans

    qe = text_plans.macro_ndcg_grouped(spark, SF)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan, plan
    # the grouped-ranking operator partitions every window by
    # (qid, bucket): walk the optimized logical plan (the same
    # detection as test_plan_shapes' fleet invariant — plan TEXT never
    # prints the literal 'partitionBy', so a string scan is vacuous)
    # and require every Window node to carry a NON-empty partitionSpec
    # that rides the qid key.
    windows = []
    for lazy in text_plans._macro_grouped_ranked_lazy(spark, SF):
        lqe = lazy._jdf.queryExecution()
        assert "TakeOrderedAndProject" not in lqe.executedPlan().toString()
        stack = [lqe.optimizedPlan()]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() == "Window":
                windows.append(node)
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
    assert windows, "grouped form must plan at least one Window"
    for w in windows:
        spec = w.partitionSpec()
        assert not spec.isEmpty(), w.toString()
        spec_txt = spec.mkString(",")
        assert "qid" in spec_txt, spec_txt


def test_kmv_registers_merge_law_and_estimate(spark):
    """The property that makes kmv_registers the KMV family's
    mergeable/streaming face: building the register table on two
    disjoint halves of the corpus and merging elementwise-MIN must
    equal the single full build EXACTLY (so partitioned histories,
    micro-batches, and shards all compose losslessly — the
    kmv_merge_rollup law at the register level). The read-side
    estimate must also land near the exact distinct count."""
    from pyspark.sql import functions as F

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.operators import sketches

    tx = datamodel.transactions(spark, SF)
    full = sketches.kmv_registers(tx)
    h1 = sketches.kmv_registers(tx.filter(F.col("id_transacao") % 2 == 0))
    h2 = sketches.kmv_registers(tx.filter(F.col("id_transacao") % 2 == 1))
    merged = (
        h1.unionByName(h2)
        .groupBy("modalidade_pagamento", "reg")
        .agg(F.min("m").alias("m"))
    )
    key = lambda df: {(r.modalidade_pagamento, r.reg, r.m) for r in df.collect()}
    assert key(merged) == key(full)

    exact = {
        r.modalidade_pagamento: r.n
        for r in tx.groupBy("modalidade_pagamento")
        .agg(F.countDistinct("id_usuario_pagador").alias("n"))
        .collect()
    }
    est = {
        r.modalidade_pagamento: r.pagadores_kmv_reg
        for r in sketches.kmv_register_estimate(full).collect()
    }
    assert set(est) == set(exact)
    for m, n in exact.items():
        # K=64 registers -> ~1/sqrt(K) ~ 12.5% stderr; generous 2x-4x
        # band so the pin never flakes while still catching a broken
        # estimator (off-by-register-range bugs are order-of-magnitude)
        assert 0.5 * n <= est[m] <= 2.0 * n, (m, n, est[m])


def test_quantile_sketch_merge_law(spark):
    """The property that makes quantile_sketch_rollup the sketch
    family's mergeable RANK face: merging per-day bottom-Q samples by
    re-truncating the union must equal the DIRECT whole-history
    bottom-Q EXACTLY (min-wise stability under the (h, tid) total
    order — the kmv_merge_rollup law carried to value samples), so
    per-day sketches answer any time-range quantile without rescans."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from banking_streaming_etl_spark.plans import relational

    rows = relational._qsk_rows(spark, SF)
    merged = relational._qsk_merge(relational._qsk_day_sketches(rows))
    direct_w = W.partitionBy("modalidade_pagamento").orderBy(
        F.asc("h"), F.asc("tid")
    )
    direct = (
        rows.withColumn("rk", F.row_number().over(direct_w))
        .filter(F.col("rk") <= relational.QSK_Q)
        .select("modalidade_pagamento", "tid", "v")
    )
    a = {tuple(r) for r in merged.collect()}
    b = {tuple(r) for r in direct.collect()}
    assert a and a == b


def test_quantile_sketch_exact_when_group_fits(spark):
    """At sf0.001 every modality has fewer than QSK_Q rows, so the
    sample IS the whole group and the sketch output must equal the
    exact per-modality order statistics under the same integer index
    rule — the degenerate-exactness contract in the docstring."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from banking_streaming_etl_spark.plans import relational

    rows = relational._qsk_rows(spark, SF)
    sizes = [
        r.n
        for r in rows.groupBy("modalidade_pagamento")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert sizes and max(sizes) <= relational.QSK_Q, sizes

    sk = {
        (r.modalidade_pagamento, r.quantil): r.valor_quantil
        for r in relational.quantile_sketch_rollup(spark, SF).collect()
    }
    w = W.partitionBy("modalidade_pagamento").orderBy(
        F.asc("v"), F.asc("tid")
    )
    ranked = rows.withColumn("vrk", F.row_number().over(w)).join(
        rows.groupBy("modalidade_pagamento").agg(F.count("*").alias("n")),
        "modalidade_pagamento",
    )
    for pct, lbl in relational.QSK_PCTS:
        exact = {
            r.modalidade_pagamento: r.v
            for r in ranked.filter(
                F.col("vrk") == F.expr(f"(n * {pct} + 99) DIV 100")
            ).collect()
        }
        for m, v in exact.items():
            assert sk[(m, lbl)] == v, (m, lbl, sk[(m, lbl)], v)


def test_quantile_sketch_error_bound_when_sampling(spark):
    """At sf0.01 every modality exceeds QSK_Q rows, so the sketch
    genuinely samples; pin the estimator quality against the exact
    order statistics (measured max relative error 0.19 — the 0.35
    band catches an off-by-index or broken-merge bug without flaking;
    the sketch is fully deterministic, so drift means testdata moved)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from banking_streaming_etl_spark.plans import relational

    d = "/root/testdata/sf0.01"
    rows = relational._qsk_rows(spark, d)
    min_n = min(
        r.n
        for r in rows.groupBy("modalidade_pagamento")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert min_n > relational.QSK_Q, min_n

    sk = {
        (r.modalidade_pagamento, r.quantil): r.valor_quantil
        for r in relational.quantile_sketch_rollup(spark, d).collect()
    }
    w = W.partitionBy("modalidade_pagamento").orderBy(
        F.asc("v"), F.asc("tid")
    )
    ranked = rows.withColumn("vrk", F.row_number().over(w)).join(
        rows.groupBy("modalidade_pagamento").agg(F.count("*").alias("n")),
        "modalidade_pagamento",
    )
    for pct, lbl in relational.QSK_PCTS:
        exact = {
            r.modalidade_pagamento: r.v
            for r in ranked.filter(
                F.col("vrk") == F.expr(f"(n * {pct} + 99) DIV 100")
            ).collect()
        }
        for m, v in exact.items():
            # abs(v)-scaled form: degrades to a readable assertion
            # failure (not ZeroDivisionError / a sign-flipped bound)
            # if regenerated testdata ever contains v <= 0
            assert abs(sk[(m, lbl)] - v) <= 0.35 * abs(v), (
                m, lbl, sk[(m, lbl)], v)


def test_quantile_sketch_range_merge_equals_direct(spark):
    """Min-wise stability on a DAY SUBSET: merging only the range's
    per-day sketches must equal the direct bottom-Q over the range's
    raw rows — the property that lets a partitioned sketch history
    answer time-range quantiles without rescanning (the oracle derives
    the range query this way; this pins it Spark-side too)."""
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from banking_streaming_etl_spark.plans import relational

    rows = relational._qsk_rows(spark, SF)
    d0 = rows.agg(F.min("dia").alias("d0")).collect()[0].d0
    lo, hi = relational.QSK_RANGE_OFFSETS
    lo_d = d0 + datetime.timedelta(days=lo)
    hi_d = d0 + datetime.timedelta(days=hi)
    in_range = (F.col("dia") >= F.lit(lo_d)) & (F.col("dia") <= F.lit(hi_d))

    merged = relational._qsk_merge(
        relational._qsk_day_sketches(rows).filter(in_range)
    )
    direct_w = W.partitionBy("modalidade_pagamento").orderBy(
        F.asc("h"), F.asc("tid")
    )
    direct = (
        rows.filter(in_range)
        .withColumn("rk", F.row_number().over(direct_w))
        .filter(F.col("rk") <= relational.QSK_Q)
        .select("modalidade_pagamento", "tid", "v")
    )
    a = {tuple(r) for r in merged.collect()}
    b = {tuple(r) for r in direct.collect()}
    assert a and a == b


def test_interval_overlap_bursts_unique_and_sound(spark):
    """Bucketize-both-sides interval-overlap join (round 14): every
    emitted pair must be emitted exactly ONCE (the overlap-start-bucket
    rule replaces DISTINCT) and must genuinely overlap with positive
    slack accounting (fim >= inicio). Value-level parity vs DuckDB's
    native inequality join is the oracle gate; this pins the structural
    dedupe the bucketized plan relies on, at a SF where pairs exist."""
    from banking_streaming_etl_spark.operators import asof

    out = asof.interval_overlap_bursts(spark, "/root/testdata/sf0.01")
    rows = out.collect()
    assert len(rows) > 0
    keys = [
        (r.id_regiao_u, r.id_pagador_a, r.dia_a, r.id_pagador_b, r.dia_b)
        for r in rows
    ]
    assert len(keys) == len(set(keys))  # no bucket-duplicate pairs
    for r in rows:
        assert r.id_pagador_a < r.id_pagador_b
        assert r.sobreposicao_us >= 0
        assert r.fim_overlap_us - r.inicio_overlap_us == r.sobreposicao_us
