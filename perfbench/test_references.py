"""The benchmark's DuckDB references agree with batch ``cql()`` on a
5k-event Zipf history.

    python3 -m pytest perfbench/test_references.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import common  # noqa: E402
import gen  # noqa: E402
import reference  # noqa: E402
from replay import ABSENCE, FIELDS, FOLLOWED_BY, keyed  # noqa: E402

PLANS = {
    "keyed": (keyed(FOLLOWED_BY), "user_id, error_id, purchase_id"),
    "unkeyed": (FOLLOWED_BY, "user_id, error_id, purchase_id"),
    "absence": (keyed(ABSENCE), "user_id, error_id"),
}


@pytest.fixture(scope="module")
def history(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("history"))
    # 200 users keep the events-per-user ratio of the benchmark's history
    gen.write_files(gen.event_history(7, 5_000, 200), d, 2)
    return d


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = common.start_session(str(tmp_path_factory.mktemp("work")))
    yield spark
    common.stop_session(spark)


@pytest.mark.parametrize("name", sorted(PLANS))
def test_reference_matches_batch_cql(spark, history, name):
    from flink_siddhi_spark import SiddhiCEP

    plan, cols = PLANS[name]
    cep = SiddhiCEP(spark)
    cep.register_stream("events", spark.read.parquet(history), *FIELDS, ts_field="ts")
    out = cep.from_("events").cql(plan).returns("Out")
    got = [tuple(r) for r in out.selectExpr(*cols.split(", ")).collect()]

    con = reference.events_connection(os.path.join(history, "*.parquet"))
    if name == "absence":
        want = reference.absence(con, None)
    else:
        want = reference.followed_by(con, keyed=name == "keyed")
    assert want, "the history should produce matches"
    assert reference.row_set_diff(got, want) == (0, 0)
