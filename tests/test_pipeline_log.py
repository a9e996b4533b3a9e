"""EP-A/EP-B/EP-C parity tests: raw log file -> entries / ranking / stats,
same-client dedup, endpoint validation seam."""

import gzip
import os
from urllib.parse import quote_plus

import pytest
from pyspark.sql import functions as F

from kgforge.corpus import POOL_BY_ID
from kgforge.endpoint import deterministic_fake_executor, http_executor, validate_entries
from kgforge.pipeline_log import read_entries, run_log

Q1 = POOL_BY_ID["q02"].text
Q2 = POOL_BY_ID["q14"].text
Q2_VARIANT = POOL_BY_ID["q14"].variants[0]


def _line(ip, day, hh, q):
    return (
        f'{ip} - - [{day}/Aug/2026:{hh}:00:01 +0000] '
        f'"GET /sparql?query={quote_plus(q)} HTTP/1.1" 200 999 "-" "a"'
    )


LINES = [
    _line("1.1.1.1", 14, 10, Q1),
    _line("1.1.1.1", 14, 11, Q1),      # same-client repeat -> dup
    _line("2.2.2.2", 14, 10, Q1),      # other client keeps it
    _line("1.1.1.1", 15, 14, Q1),      # repeat a day later -> dup on day 15
    _line("1.1.1.1", 15, 10, Q2),
    _line("3.3.3.3", 15, 11, Q2_VARIANT),  # same canonical BGP as Q2
    _line("4.4.4.4", 15, 12, "SELECT broken {"),  # reject
    "not a log line at all",
    _line("5.5.5.5", 15, 13, Q1).replace("GET /sparql?query=", "GET /other?x="),
]


def _write_log(d, lines, name="access.log.gz"):
    # gzip input: the reference consumed .gz logs; spark.read.text is transparent
    path = os.path.join(d, name)
    with (gzip.open if name.endswith(".gz") else open)(path, "wt") as f:
        f.write("\n".join(lines))
    return path


def _sql_plans(spark) -> dict:
    """Execution id -> physical plan text of every SQL execution the session
    recorded, once the listener bus has delivered all events."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {
        x.executionId(): x.physicalPlanDescription()
        for x in (execs.apply(i) for i in range(execs.size()))
    }


@pytest.fixture(scope="module")
def log_out(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("log"))
    path = _write_log(d, LINES)
    out = os.path.join(d, "out")
    before = set(_sql_plans(spark))
    metrics = run_log(spark, path, out)
    plans = [p for i, p in _sql_plans(spark).items() if i not in before]
    return out, metrics, plans


def test_log_metrics(log_out):
    _, m, _ = log_out
    assert m["n_lines"] == 9
    assert m["n_hits"] == 7           # 7 /sparql?query= hits
    assert m["n_dups"] == 2           # the two same-client repeats
    assert m["n_rejected"] == 1       # the broken query
    assert m["n_ok"] == 4             # 7 - dups - reject
    assert m["n_distinct_bgps"] == 2  # Q1-bgp and Q2-bgp (variant collapses)


def test_one_parse_pass(log_out):
    """The parse runs in exactly one SQL execution: entries, ranking and
    stats all read the materialized parse instead of re-running it."""
    _, _, plans = log_out
    assert sum("MapInPandas" in p for p in plans) == 1


def test_per_date_stats(spark, log_out):
    out, _, _ = log_out
    rows = sorted(
        tuple(r) for r in
        spark.read.parquet(f"{out}/stats").select("ds", "hits", "ok", "rejected", "dups").collect()
    )
    # the day-15 repeat of a day-14 query counts in day 15's hits and dups
    assert rows == [("2026-08-14", 3, 2, 0, 1), ("2026-08-15", 4, 2, 1, 1)]


def test_per_date_partitioning(spark, log_out):
    out, _, _ = log_out
    dirs = {p for p in os.listdir(f"{out}/entries") if p.startswith("ds=")}
    assert dirs == {"ds=2026-08-14", "ds=2026-08-15"}


def test_ranking_collapses_variants(spark, log_out):
    out, _, _ = log_out
    ranking = {r.bgp_hash: r["count"] for r in spark.read.parquet(f"{out}/ranking").collect()}
    assert sorted(ranking.values()) == [2, 2]  # Q1 x2 (dedup'd), Q2+variant x2


def test_validation_seam(spark, log_out):
    out, _, _ = log_out
    entries = spark.read.parquet(f"{out}/entries")
    v = validate_entries(entries, deterministic_fake_executor)
    rows = v.filter("parse_ok").select("query", "endpoint_empty", "endpoint_error").collect()
    assert rows
    # deterministic: same query text -> same verdict everywhere
    verd = {}
    for r in rows:
        key = r.query
        val = (r.endpoint_empty, r.endpoint_error)
        assert verd.setdefault(key, val) == val
    # distinct-query execution: validating N entries calls the executor only
    # once per distinct query (counted via a counting executor)
    calls = []

    def counting(q):
        calls.append(q)
        return (False, None)

    validate_entries(entries, counting).collect()
    assert len(calls) == len(set(calls))


def test_no_dedup_keeps_same_client_repeats(spark, tmp_path):
    out = str(tmp_path / "out")
    m = run_log(spark, _write_log(str(tmp_path), LINES), out, dedup_same_client=False)
    assert m["n_hits"] == 7
    assert m["n_dups"] == 0
    assert m["n_ok"] == 6  # 7 hits - the reject
    repeats = (
        read_entries(spark, out)
        .filter((F.col("ip") == "1.1.1.1") & (F.col("query") == Q1))
        .count()
    )
    assert repeats == 3  # the first hit and both repeats
    assert {r.dups for r in spark.read.parquet(f"{out}/stats").collect()} == {0}


@pytest.mark.parametrize(
    "lines", [[], ["not a log line at all", "nor is this"]], ids=["empty", "no-log-lines"]
)
def test_log_without_hits(spark, tmp_path, lines):
    out = str(tmp_path / "out")
    m = run_log(spark, _write_log(str(tmp_path), lines, "access.log"), out)
    assert m == {
        "n_lines": len(lines), "n_hits": 0, "n_ok": 0, "n_rejected": 0,
        "n_dups": 0, "n_distinct_bgps": 0,
    }
    assert read_entries(spark, out).count() == 0
    ranking = spark.read.parquet(f"{out}/ranking")
    assert ranking.columns == ["bgp_hash", "count", "canonical"]
    assert ranking.count() == 0
    stats = spark.read.parquet(f"{out}/stats")
    assert stats.columns == ["ds", "hits", "ok", "rejected", "dups"]
    assert stats.count() == 0


def test_http_executor_is_a_clear_seam():
    with pytest.raises(NotImplementedError, match="no network"):
        http_executor("http://dbpedia.org/sparql")("SELECT ?s WHERE { ?s ?p ?o }")
