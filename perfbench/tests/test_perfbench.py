"""Tests for the benchmark's own parts.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, os.path.dirname(BENCH_DIR))

import gen  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
from outputs import References, digest  # noqa: E402
from workloads import Workload  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_digest_ignores_order_and_partitions_but_catches_one_row(spark):
    rows = [(i, f"s{i % 7}", i * 0.5, {"k": i % 3}) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, s string, x double, m map<string,int>")
    base = digest(df)
    assert base[0] == 200
    assert digest(df.orderBy(df.id.desc())) == base
    assert digest(df.repartition(7)) == base
    assert digest(df.coalesce(1)) == base
    changed = spark.createDataFrame(
        rows[:-1] + [(199, "s3", 99.25, {"k": 1})], df.schema)
    assert digest(changed)[1] != base[1]
    changed_map = spark.createDataFrame(
        rows[:-1] + [(199, "s3", 99.5, {"k": 2})], df.schema)
    assert digest(changed_map)[1] != base[1]


def test_digest_rounds_floats_as_the_oracle_check_does(spark):
    schema = "id long, x double, f float, a array<double>, m map<string,double>"

    def frame(eps, zero):
        return spark.createDataFrame(
            [(i, i / 3 + eps, float(i), [i / 7 + eps, zero], {"k": i / 9 + eps})
             for i in range(50)], schema)

    base = digest(frame(0.0, 0.0))
    # a last-bit difference, as from a reordered sum, and a negative zero
    assert digest(frame(1e-13, -0.0)) == base
    assert digest(frame(1e-6, 0.0)) != base


def test_digest_does_not_overflow_under_ansi(spark):
    df = spark.range(0, 50_000).selectExpr(
        "id", "id * 9223372036854 AS big", "CAST(id AS string) AS s")
    n, d = digest(df)
    assert n == 50_000 and d.startswith("50000:")


def test_digest_of_empty_output(spark):
    assert digest(spark.range(0)) == (0, "0:0:0")


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.generate(11, str(a))
    gen.generate(11, str(b))
    gen.generate(12, str(c))
    names = sorted(os.listdir(a))
    assert len(names) == 10
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert "lineitem.parquet" in differ and "events.parquet" in differ


class _Registry:
    def __init__(self, queries):
        self.QUERIES = queries
        self.ORACLE = {}


def _good(spark, sf_dir):
    return spark.range(10)


def _bad(spark, sf_dir):
    raise RuntimeError("planted failure")


def test_raising_key_lowers_ok_ratio_and_run_goes_on(spark, tmp_path):
    w = Workload(name="t", keys=("good", "bad", "good2"), clear="key")
    r = run.Run(w, seed=0, seconds=2, trace=False)
    r.spark = spark
    r.registry = _Registry({"good": _good, "bad": _bad, "good2": _good})
    for p in range(r.passes):
        r.run_pass(p, [str(tmp_path)] * 3)
    assert [k for k, _, _ in r.outcomes] == ["good", "bad", "good2"] * r.passes

    refs = References(str(tmp_path))
    refs.add("good", 10, digest(spark.range(10))[1])
    refs.add("good2", 10, digest(spark.range(10))[1])
    refs.add("bad", 10, None)
    failed = run.count_failed(r.outcomes, refs)
    assert failed == r.passes
    assert (len(r.outcomes) - failed) / len(r.outcomes) == pytest.approx(2 / 3)


def test_rows_only_reference_comes_from_first_nonempty_execution(tmp_path):
    w = Workload(name="t", keys=("a", "empty", "raised"), clear="key")
    r = run.Run(w, seed=0, seconds=2, trace=False)
    r.data_dir = str(tmp_path)
    r.registry = _Registry({})
    r.outcomes = [("a", 5, "x"), ("empty", 0, "y"), ("raised", None, None),
                  ("a", 4, "z")]
    refs = r.verify()
    assert refs.entries == {"a": {"rows": 5, "digest": None}}
    assert References(str(tmp_path)).entries == refs.entries
    assert run.count_failed(r.outcomes, refs) == 3


def test_rows_only_reference_checks_row_count(tmp_path):
    refs = References(str(tmp_path))
    refs.add("als", 5, None)
    assert refs.matches("als", 5, "anything")
    assert not refs.matches("als", 4, "anything")
    assert not refs.matches("unknown", 5, "x")


def test_tracer_self_time():
    t = probes.Tracer("r", enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    spans = {s["name"]: s for s in t.with_self_time()}
    assert spans["inner"]["parent"] == spans["outer"]["id"]
    outer = spans["outer"]
    assert outer["self_s"] == pytest.approx(
        outer["end"] - outer["start"] - (spans["inner"]["end"] - spans["inner"]["start"]))


def test_tree_cpu_counts_children():
    import subprocess

    before = probes.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"],
                   check=True)
    assert probes.tree_cpu_s(os.getpid()) - before > 0.05
