"""Data-quality constraints and event-sequence analytics semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from architrave_project_apache_nifi_spark.operators.events import (
    anomaly_zscore,
    funnel_conversion,
    gapfill_daily_counts,
)
from architrave_project_apache_nifi_spark.operators.quality import (
    check_constraints,
    check_unique,
)


def test_check_constraints_counts_nulls_as_violations(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None)], "id long, price double"
    )
    out = {
        r["rule"]: r
        for r in check_constraints(
            df, {"price_positive": F.col("price") > 0}
        ).collect()
    }
    r = out["price_positive"]
    # -5 violates; NULL price is unknown → also a violation.
    assert r["n_rows"] == 3 and r["n_violations"] == 2 and r["passed"] == 0


def test_check_constraints_requires_rules(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="at least one rule"):
        check_constraints(df, {})


def test_check_unique_counts_all_rows_of_dup_groups(spark):
    df = spark.createDataFrame(
        [(1,), (1,), (1,), (2,)], "k long"
    )
    r = check_unique(df, ["k"]).collect()[0]
    # All 3 rows of the k=1 group are violations, not 2 "extras".
    assert r["n_violations"] == 3 and r["passed"] == 0
    clean = check_unique(df.dropDuplicates(["k"]), ["k"]).collect()[0]
    assert clean["n_violations"] == 0 and clean["passed"] == 1


def test_funnel_requires_strict_order(spark):
    rows = [
        # user 1: click BEFORE the first view → stage 2 never reached.
        (1, "2024-01-01 09:00:00", "click"),
        (1, "2024-01-01 10:00:00", "view"),
        # user 2: full ordered funnel.
        (2, "2024-01-01 09:00:00", "view"),
        (2, "2024-01-01 10:00:00", "click"),
        (2, "2024-01-01 11:00:00", "purchase"),
        # user 3: purchase before click → stage 3 unreached.
        (3, "2024-01-01 09:00:00", "view"),
        (3, "2024-01-01 09:30:00", "purchase"),
        (3, "2024-01-01 10:00:00", "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["user_id"]: r
        for r in funnel_conversion(df, ["view", "click", "purchase"]).collect()
    }
    assert out[1]["stage_2_ts"] is None and out[1]["stage_3_ts"] is None
    assert out[2]["stage_3_ts"] is not None
    assert out[3]["stage_2_ts"] is not None and out[3]["stage_3_ts"] is None


def test_gapfill_emits_zero_rows_for_silent_days(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00"), (1, "2024-01-03 12:00:00")],
        "user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["day"].isoformat(): r["n_events"]
        for r in gapfill_daily_counts(df, "2024-01-01", "2024-01-04").collect()
    }
    assert out == {
        "2024-01-01": 1,
        "2024-01-02": 0,
        "2024-01-03": 1,
        "2024-01-04": 0,
    }


def test_anomaly_zscore_flags_outlier(spark):
    # Max attainable |z| is (n-1)/sqrt(n), so one outlier among 9
    # inliers can never cross 3; use 29 inliers + 1 outlier.
    vals = [10.0, 11.0, 9.0, 10.0, 12.0, 8.0] * 5
    vals[-1] = 100.0
    df = spark.createDataFrame(
        [(i, "t", v) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    out = anomaly_zscore(df, "event_type", "value", 3.0)
    flagged = [r["event_id"] for r in out.filter("is_anomaly = 1").collect()]
    assert flagged == [len(vals) - 1]


def test_streaming_quality_gate_routes_batches(spark, tmp_path):
    from architrave_project_apache_nifi_spark.streaming.quality_gate import (
        run_quality_gate_stream,
    )

    landing = str(tmp_path / "landing")
    root = str(tmp_path / "gate")
    ckpt = str(tmp_path / "ckpt")
    clean = spark.createDataFrame(
        [(1, 10.0), (2, 5.0)], "id long, price double"
    )
    dirty = spark.createDataFrame(
        [(3, 7.0), (4, -1.0)], "id long, price double"
    )
    clean.coalesce(1).write.parquet(landing + "/f0")
    stream = spark.readStream.schema(clean.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(landing + "/*")
    rules = {"price_positive": F.col("price") > 0}
    q = run_quality_gate_stream(stream, root, ckpt, rules)
    q.awaitTermination(120)
    dirty.coalesce(1).write.parquet(landing + "/f1")
    stream2 = spark.readStream.schema(clean.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(landing + "/*")
    q2 = run_quality_gate_stream(stream2, root, ckpt, rules)
    q2.awaitTermination(120)

    import os

    accepted = spark.read.parquet(os.path.join(root, "accepted", "*"))
    assert sorted(r["id"] for r in accepted.collect()) == [1, 2]
    quarantined = spark.read.parquet(
        os.path.join(root, "quarantine", "batch=1")
    )
    assert sorted(r["id"] for r in quarantined.collect()) == [3, 4]
    report = spark.read.parquet(os.path.join(root, "reports", "batch=1")).collect()
    assert report[0]["rule"] == "price_positive" and report[0]["passed"] == 0
    # the report lives outside the data root, so the committed-batch
    # reader over quarantine/ sees data batches only
    from architrave_project_apache_nifi_spark.streaming.commitdirs import (
        read_committed,
    )

    committed = read_committed(spark, os.path.join(root, "quarantine"))
    assert sorted(r["id"] for r in committed.collect()) == [3, 4]


def test_winsorize_clamps_tails_only(spark):
    from architrave_project_apache_nifi_spark.operators.quality import winsorize

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)] + [(999, None)],
        "id long, v double",
    )
    out = {r["id"]: r["v"] for r in winsorize(df, "v", 0.10, 0.90).collect()}
    assert out[1] == out[5] == out[min(10, 11)]  # low tail clamped up
    assert out[100] == out[95]  # high tail clamped down
    assert out[50] == 50.0  # interior untouched
    assert out[999] is None  # NULL passes through

    import pytest as _pytest
    with _pytest.raises(ValueError):
        winsorize(df, "v", 0.9, 0.1)


def test_quantile_transform_matches_percent_rank(spark):
    from architrave_project_apache_nifi_spark.operators.quality import (
        quantile_transform,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(500)
    got = quantile_transform(events, "value")
    # oracle: Spark's own single-window percent_rank on this small input
    from pyspark.sql import Window

    want = events.withColumn(
        "pr", F.percent_rank().over(Window.orderBy("value"))
    )
    joined = got.select("event_id", "value_q").join(
        want.select("event_id", "pr"), "event_id"
    )
    bad = joined.filter(F.abs(F.col("value_q") - F.col("pr")) > 1e-12).count()
    assert bad == 0


def test_quantile_transform_ties_and_nulls(spark):
    from architrave_project_apache_nifi_spark.operators.quality import (
        quantile_transform,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 1.0), (4, 9.0), (5, None)],
        "id long, v double",
    )
    out = {r["id"]: r["v_q"] for r in quantile_transform(df, "v").collect()}
    assert out[3] == 0.0
    assert out[1] == out[2] == 1 / 3  # tie shares the below-count
    assert out[4] == 1.0
    assert out[5] is None


# ---------------------------------------------------------------------------
# Model-based quality classifier (r9)
# ---------------------------------------------------------------------------


def _clf_corpus(spark):
    import random

    from pyspark.sql import functions as F  # noqa: F401

    rng = random.Random(5)
    vocab = [f"tok{i}" for i in range(300)]
    rows = []
    for i in range(120):  # diverse, stopword-bearing "good" docs
        words = ["the", "of", "and"] + [rng.choice(vocab) for _ in range(60)]
        rng.shuffle(words)
        rows.append((i, " ".join(words), 1.0))
    for i in range(120, 240):  # repetitive junk
        w = rng.choice(vocab)
        rows.append((i, " ".join([w] * 40), 0.0))
    return spark.createDataFrame(rows, "doc_id long, text string, label double")


def test_quality_classifier_separates_junk(spark):
    from architrave_project_apache_nifi_spark.operators.quality import (
        score_quality,
        train_quality_classifier,
    )

    docs = _clf_corpus(spark)
    train = docs.filter("doc_id % 2 = 0")
    heldout = docs.filter("doc_id % 2 = 1")
    model = train_quality_classifier(train, "text", "doc_id")
    scored = score_quality(heldout, model, "text", "doc_id").join(
        heldout.select("doc_id", "label"), "doc_id"
    )
    rows = scored.collect()
    assert len(rows) == heldout.count()
    acc = sum(
        1 for r in rows if (r["quality_prob"] >= 0.5) == (r["label"] == 1.0)
    ) / len(rows)
    assert acc >= 0.95, acc
    good = [r["quality_prob"] for r in rows if r["label"] == 1.0]
    junk = [r["quality_prob"] for r in rows if r["label"] == 0.0]
    assert min(good) > max(junk)  # linearly separable by construction


def test_quality_classifier_deterministic(spark):
    from architrave_project_apache_nifi_spark.operators.quality import (
        score_quality,
        train_quality_classifier,
    )

    docs = _clf_corpus(spark)
    m1 = train_quality_classifier(docs, "text", "doc_id")
    m2 = train_quality_classifier(docs.repartition(7), "text", "doc_id")
    s1 = {
        r["doc_id"]: r["quality_prob"]
        for r in score_quality(docs, m1, "text", "doc_id").collect()
    }
    s2 = {
        r["doc_id"]: r["quality_prob"]
        for r in score_quality(docs, m2, "text", "doc_id").collect()
    }
    # LBFGS over tree-aggregated gradients: same data -> same model up
    # to aggregation-order float noise, whose size depends on the
    # treeAggregate shape (parallelism) — assert a tolerance, not bits
    assert s1.keys() == s2.keys()
    assert max(abs(s1[k] - s2[k]) for k in s1) < 1e-6


def test_quality_classifier_survives_empty_doc_in_training(spark):
    import math

    from architrave_project_apache_nifi_spark.operators.quality import (
        score_quality,
        train_quality_classifier,
    )

    # Zero-token docs yield NULL ratio features, which the assembler's
    # handleInvalid='keep' forwards as NaN; the training path must
    # filter them or one sampled negative NaN-poisons the LBFGS loss.
    docs = _clf_corpus(spark).unionByName(
        spark.createDataFrame(
            [(9001, "", 0.0), (9002, "   \t\n ", 0.0)],
            "doc_id long, text string, label double",
        )
    )
    model = train_quality_classifier(docs, "text", "doc_id")
    coefs = list(model.coefficients) + [model.intercept]
    assert all(math.isfinite(c) for c in coefs), coefs
    scored = score_quality(
        _clf_corpus(spark), model, "text", "doc_id"
    ).collect()
    assert all(math.isfinite(r["quality_prob"]) for r in scored)


def test_weak_quality_labels_semantics(spark):
    from pyspark.sql import functions as F

    from architrave_project_apache_nifi_spark.operators.quality import (
        weak_quality_labels,
    )

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") < 100).alias("is_ref")
    )
    lab = weak_quality_labels(
        docs, "doc_id", F.col("is_ref"), neg_rate=0.3
    )
    rows = lab.collect()
    pos = [r for r in rows if r["label"] == 1.0]
    neg = [r for r in rows if r["label"] == 0.0]
    assert len(pos) == 100  # every reference doc labeled positive
    assert 150 < len(neg) < 400  # ~30% of the 900 non-reference docs
    # deterministic replay
    again = weak_quality_labels(docs, "doc_id", F.col("is_ref"), neg_rate=0.3)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))
