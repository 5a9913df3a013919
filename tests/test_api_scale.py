"""SQL API surface, partition-pruned history layout, skew utilities."""

from __future__ import annotations

import io
import contextlib

from pyspark.sql import functions as F

from banking_streaming_etl_spark import api, datamodel
from banking_streaming_etl_spark.operators import skew
from banking_streaming_etl_spark.streaming import sinks

SF = "/root/testdata/sf0.001"


def test_sql_views_match_dataframe_api(spark):
    api.register_views(spark, SF)
    n_sql = spark.sql(
        "SELECT count(*) AS n FROM transacoes_aprovadas WHERE transacao_aprovada"
    ).first().n
    from banking_streaming_etl_spark.plans.approval import approval_pipeline

    n_df = (
        approval_pipeline(spark, SF).filter(F.col("transacao_aprovada")).count()
    )
    assert n_sql == n_df
    # the analytic views exist and aggregate correctly
    total = spark.sql(
        "SELECT sum(total_transacoes) AS n FROM vw_performance_stats"
    ).first().n
    assert total == 1000


def test_non_eager_builders_do_not_run_jobs(spark):
    """EAGER_QUERIES completeness (round-4 advice): building the PLAN of
    any non-eager registered query may run at most a handful of small
    budget jobs (the documented single-count builders: semantic_dedup's
    sqrt(N), the hierarchical assigner's K) — never a multi-job training
    or evaluation loop. Catches any future heavy builder missing from
    the set, which would make register_query_views' default sweep run
    minutes of Spark jobs at registration time.

    A builder that pins a session-shared derivation (`memo.shared`)
    runs that derivation's jobs on its first build only, so a first
    build over the budget is rebuilt, and only a rebuild over the
    budget too is an offender: that is the steady-state cost that
    register_query_views' sweep and repeat callers see."""
    from banking_streaming_etl_spark import registry

    sc = spark.sparkContext

    def _jobs(fn) -> int:
        # DAGScheduler.nextJobId is the monotone job counter (Scala
        # private[spark] compiles to a public accessor; py4j unwraps
        # the AtomicInteger to an int)
        before = sc._jsc.sc().dagScheduler().nextJobId()
        fn(spark, SF)
        return sc._jsc.sc().dagScheduler().nextJobId() - before

    # every parquet open costs one trivial schema/listing job, so a wide
    # join graph legitimately counts ~#tables (TPC-H Q8 = 8); real
    # training/eval loops run dozens of DATA jobs
    budget = 10
    offenders = {}
    for name, q in registry.all_queries().items():
        if name in api.EAGER_QUERIES or _jobs(q.fn) <= budget:
            continue
        rebuild = _jobs(q.fn)
        if rebuild > budget:
            offenders[name] = rebuild
    assert offenders == {}, (
        f"builders running >{budget} jobs on every plan build, add to "
        f"EAGER_QUERIES or pin the shared derivation once per session "
        f"(memo.shared): {offenders}"
    )


def test_partitioned_history_prunes(spark, tmp_path):
    """The scale-out history layout: date-partitioned parquet, and a dated
    query's scan touches only the matching partition."""
    t = datamodel.transactions(spark, SF).withColumn(
        "data", F.to_date("data_horario")
    )
    out = str(tmp_path / "hist")
    sinks.write_partitioned_parquet(t, out, ["data"])

    back = spark.read.parquet(out)
    q = back.filter(F.col("data") == "2024-01-05")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain(True)
    plan = buf.getvalue()
    # partition filter reaches the scan (partition pruning)
    assert "PartitionFilters" in plan and "2024-01-05" in plan
    n_all = back.count()
    n_day = q.count()
    assert 0 < n_day < n_all


def test_salted_agg_matches_plain(spark):
    t = datamodel.transactions(spark, SF)
    plain = {
        (r.modalidade_pagamento, r.total): r
        for r in t.groupBy("modalidade_pagamento")
        .agg(F.count("*").alias("total"))
        .collect()
    }
    salted = {
        (r.modalidade_pagamento, r.total): r
        for r in skew.salted_agg(
            t, "modalidade_pagamento", "valor_transacao"
        ).collect()
    }
    assert set(plain) == set(salted)


def test_salted_join_matches_plain(spark):
    t = datamodel.transactions(spark, SF)
    u = datamodel.users(spark, SF)
    plain = (
        t.join(u, t.id_usuario_pagador == u.id_usuario, "left")
        .filter(F.col("saldo").isNotNull())
        .count()
    )
    salted = (
        skew.salted_join(t, u, "id_usuario_pagador", "id_usuario")
        .filter(F.col("saldo").isNotNull())
        .count()
    )
    assert plain == salted


def test_register_query_views_exposes_full_sql_surface(spark):
    """Every registered query is reachable through spark.sql after
    register_query_views — spot-check one per new family."""
    from banking_streaming_etl_spark.api import register_query_views

    picked = ["cms_heavy_hitters", "hybrid_retrieval_rrf",
              "k_anonymity_report"]
    names = register_query_views(
        spark, "/root/testdata/sf0.001", names=picked
    )
    assert names == [f"q_{n}" for n in picked]
    top = spark.sql(
        "SELECT id_usuario_pagador FROM q_cms_heavy_hitters "
        "ORDER BY tx_exato DESC, id_usuario_pagador LIMIT 1"
    ).collect()
    assert len(top) == 1
    k = spark.sql("SELECT COUNT(*) FROM q_k_anonymity_report").collect()[0][0]
    assert k == 3


def test_cli_list_and_run(capsys):
    """The __main__ CLI lists queries and runs one end to end."""
    from banking_streaming_etl_spark.__main__ import main

    rc = main(["--list"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "cms_heavy_hitters" in out and "[oracle]" in out
    assert main(["definitely_not_a_query"]) == 2


def test_l_diversity_matches_bruteforce(spark):
    """Literal recomputation of per-QI-class distinct-modality counts."""
    import math
    from collections import defaultdict

    import pytest

    from banking_streaming_etl_spark import datamodel
    from banking_streaming_etl_spark.plans.governance import (
        L_THRESHOLDS,
        QI_VALUE_BUCKET,
        l_diversity_report,
    )

    sf = "/root/testdata/sf0.001"
    out = {r.l: r for r in l_diversity_report(spark, sf).collect()}
    rows = datamodel.transactions(spark, sf).select(
        "id_regiao", "valor_transacao", "modalidade_pagamento"
    ).collect()
    classes = defaultdict(lambda: [set(), 0])
    for r in rows:
        key = (r.id_regiao, math.floor(r.valor_transacao / QI_VALUE_BUCKET))
        classes[key][0].add(r.modalidade_pagamento)
        classes[key][1] += 1
    for l in L_THRESHOLDS:
        r = out[l]
        bad = [(s, n) for s, n in classes.values() if len(s) < l]
        assert r.n_classes == len(classes)
        assert r.classes_em_risco == len(bad)
        assert r.linhas_em_risco == sum(n for _, n in bad)
        assert r.l_minimo == min(len(s) for s, _ in classes.values())
        assert r.fracao_em_risco == pytest.approx(
            round(sum(n for _, n in bad) / len(rows), 6), abs=1e-9
        )
