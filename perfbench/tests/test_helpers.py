"""Tests for the benchmark's own helpers: the SQL-metric parser and the
output checkers the runner applies to every op.

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

import pandas as pd
import pytest

from perfbench.trace import parse_sql_metric
from perfbench.workloads import curate_corpus, pairwise_f1, same_partition


@pytest.mark.parametrize(
    "text, value",
    [
        ("784.0 KiB", 784.0 * 1024),
        ("1269.7 KiB", 1269.7 * 1024),
        ("2.5 MiB", 2.5 * 1024**2),
        ("0.0 B", 0.0),
        ("11.8 s", 11.8),
        ("345 ms", 0.345),
        ("2.5 m", 150.0),
        ("1.25 h", 4500.0),
        ("100,000", 100_000.0),
        ("7", 7.0),
        (
            "total (min, med, max (stageId: taskId))\n"
            "11.4 s (2.6 s, 2.9 s, 3.1 s (stage 0.0: task 2))",
            11.4,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "64.1 MiB (16.0 MiB, 16.0 MiB, 16.0 MiB (stage 6.0: task 18))",
            64.1 * 1024**2,
        ),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "fast", "12 parsecs", "\n(min, med, max)\n(1.0, 2.0, 3.0)"])
def test_parse_sql_metric_rejects(text):
    with pytest.raises(ValueError):
        parse_sql_metric(text)


def test_pairwise_f1_and_partition():
    gold = pd.Series([0, 0, 2, 3, 3, 3], index=[0, 1, 2, 3, 4, 5])
    relabelled = pd.Series([9, 9, 7, 5, 5, 5], index=gold.index)
    assert pairwise_f1(relabelled, gold) == 1.0
    assert same_partition(relabelled, gold)
    # split {3, 4, 5} into {3, 4} + {5}: 1 of 4 gold pairs lost, none wrong
    split = pd.Series([0, 0, 2, 3, 3, 5], index=gold.index)
    assert pairwise_f1(split, gold) == pytest.approx(2 * 1 * 0.5 / 1.5)
    assert not same_partition(split, gold)
    assert not same_partition(gold.iloc[:-1], gold)
    singletons = pd.Series(range(6), index=gold.index)
    assert pairwise_f1(singletons, gold) == 0.0


def test_curate_corpus_closed_form():
    corpus, groups = curate_corpus(seed=3, n=50)
    assert len(corpus) == 50 + 10
    assert groups.index.equals(pd.Index(corpus["doc_id"]))
    sizes = groups.value_counts()
    assert sorted(sizes[sizes > 1].index) == list(range(0, 50, 5))
    assert (sizes[sizes > 1] == 2).all()
    by_id = corpus.set_index("doc_id")
    for i in range(0, 50, 5):
        assert by_id.loc[50 + i, "text"] == by_id.loc[i, "text"]
        assert (by_id.loc[50 + i, "vec"] == by_id.loc[i, "vec"]).all()
    assert corpus["text"].nunique() == 50
    again, _ = curate_corpus(seed=3, n=50)
    assert again["text"].equals(corpus["text"])
    assert not curate_corpus(seed=4, n=50)[0]["text"].equals(corpus["text"])


# ------------------------------------------------------- checkers on Spark


@pytest.fixture(scope="module")
def spark():
    from alligator_spark.session import get_spark

    s = get_spark(
        app_name="perfbench_tests",
        cores=2,
        shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


def test_linkage_checker_on_smoke_spec(spark, tmp_path):
    """The 20x3+20 smoke spec passes the gold and span checks; a
    clustering that merges everything, or a clusters table whose spans
    changed, fails them."""
    from pyspark.sql import functions as F

    from perfbench.workloads import Linkage

    wl = Linkage(spark, str(tmp_path), seed=42, shape=(20, 3, 20))
    assert wl.make_inputs(str(tmp_path / "docs")) == 80
    out = wl.op()
    f1, errors = wl.check(out)
    assert errors == [] and f1 >= 0.99

    merged = out["components"].withColumn("component_id", F.lit("one"))
    f1_bad, errors = wl.check_components(merged, out["block_keys"], out["clusters"])
    assert f1_bad < 0.99 and any("F1" in e for e in errors)

    shuffled = out["clusters"].withColumn("spans", F.reverse("spans"))
    _, errors = wl.check_components(out["components"], out["block_keys"], shuffled)
    assert any("span invariant" in e for e in errors)
    dropped = out["clusters"].limit(79)
    _, errors = wl.check_components(out["components"], out["block_keys"], dropped)
    assert any("span invariant" in e for e in errors)


def test_curation_checker(spark, tmp_path):
    """The four dedup operators reproduce the planted groups; a result
    that merges two groups or drops a copy fails the check."""
    from perfbench.workloads import Curation

    wl = Curation(spark, str(tmp_path), seed=5, n=200)
    assert wl.make_inputs(str(tmp_path / "texts")) == 240
    out = wl.op()
    f1, errors = wl.check(out)
    assert errors == [] and f1 == 1.0

    bad = dict(out)
    mh = out["minhash"].copy()
    mh.loc[mh["doc_id"] == 1, "component_id"] = 0
    bad["minhash"] = mh
    ex = out["exact"].copy()
    ex.loc[ex["rep_id"] == 0, "dup_count"] = 1
    bad["exact"] = ex
    f1, errors = wl.check(bad)
    assert f1 < 1.0
    assert any(e.startswith("minhash") for e in errors)
    assert any(e.startswith("exact") for e in errors)
