"""Tests of the benchmark itself: its oracle agrees with the engine on small
data, its data is deterministic, and its tail statistic follows its rule.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import workloads as W  # noqa: E402
from run import ADHOC_BLOCKS, WARMUP_BLOCKS, MdxAdhoc, percentile_tail  # noqa: E402


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    return datagen.ensure(str(tmp_path_factory.mktemp("data")), 0.01)


@pytest.fixture(scope="module")
def con(data_dir):
    c = W.connect(data_dir)
    yield c
    c.close()


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = tmp_path_factory.mktemp("spark-local")
    s = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.local.dir", str(local))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())
    s.sparkContext.setLogLevel("OFF")
    yield s
    s.stop()


def test_tables_are_deterministic():
    a, b = datagen.tables(0.001), datagen.tables(0.001)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name


def test_percentile_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(40)]
    value, pct, beyond = percentile_tail(xs)
    assert beyond == 10 and sum(x > value for x in xs) == 10
    assert pct == 75.0
    assert percentile_tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def test_adhoc_stream_is_seeded_stratified_and_never_repeats(con):
    a = W.adhoc_ops(con, 7, 2)
    b = W.adhoc_ops(con, 7, 2)
    assert [o["mdx"] for o in a] == [o["mdx"] for o in b]
    assert len({o["mdx"] for o in a}) == len(a) == 2 * len(W.TEMPLATES)
    for block in (a[: len(W.TEMPLATES)], a[len(W.TEMPLATES):]):
        assert sorted(o["template"] for o in block) == sorted(W.TEMPLATES)
    other = W.adhoc_ops(con, 8, 1, avoid={o["mdx"] for o in a})
    assert not {o["mdx"] for o in other} & {o["mdx"] for o in a}


def test_warmup_first_and_timed_statements_are_disjoint(con, tmp_path):
    ops = MdxAdhoc.prepare(con, 7, str(tmp_path))
    warm = {o["mdx"] for o in ops["warmup"]}
    timed = {o["mdx"] for o in ops["timed"]}
    assert len(warm) == WARMUP_BLOCKS * len(W.TEMPLATES)
    assert len(timed) == ADHOC_BLOCKS * len(W.TEMPLATES)
    assert not warm & timed and ops["first"]["mdx"] not in warm | timed


def test_every_template_matches_duckdb(spark, con, data_dir):
    """One SQL per template proves the engine's answers at sf0.01.  The two
    known-defect templates currently raise; if one starts answering, its
    answer must match too."""
    from mondrian_olap_spark.tpch import get_engine

    eng = get_engine(spark, data_dir)
    failed = set()
    for op in W.adhoc_ops(con, 3, 2):
        try:
            r = eng.execute(op["mdx"])
            ok = (W.check_drill(op, r.collect()) if op["kind"] == "drill"
                  else W.check_select(op, r.pivot()))
        except Exception:  # noqa: BLE001 — recorded per template below
            failed.add(op["template"])
            continue
        assert ok, op["mdx"]
    assert failed <= W.KNOWN_DEFECTS, failed


def test_ingest_acceptances_match_not_exists_replay(spark, con, data_dir, tmp_path):
    from mondrian_olap_spark.operators.pipeline import ingest_batch, init_ingest_state

    batches = W.ingest_batches(con, 5, 3, 200)
    expected = W.ingest_expected(con, batches)
    assert all(expected) and sum(map(len, expected)) < sum(map(len, batches))
    state = str(tmp_path / "state")
    init_ingest_state(spark.read.parquet(f"{data_dir}/documents.parquet"), state)
    for batch, want in zip(batches, expected):
        df = spark.createDataFrame(batch, "doc_id long, text string")
        got = ingest_batch(df, state).select("doc_id", "dup_count").collect()
        assert sorted((r[0], r[1]) for r in got) == want
