"""The benchmark's own tests: its inputs are a pure function of (seed, rep,
size), the truth each generator reports is what kgforge's kernels find, and
BENCHMARK.json names exactly the metrics a run reports.

Run with ``python -m pytest perfbench`` from the checkout root; no Spark.
"""

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_benchmark_json_names_what_a_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END.items())
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(layers.PER_LAYER)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def test_code_unique_is_a_function_of_seed_and_rep():
    a = inputs.code_unique(7, 0, 300)
    assert a == inputs.code_unique(7, 0, 300)
    assert a[0] != inputs.code_unique(8, 0, 300)[0]
    assert a[0] != inputs.code_unique(7, 1, 300)[0]


def test_dbpedia_log_is_a_function_of_seed_and_rep():
    a = inputs.dbpedia_log(7, 0, 2000)
    assert a == inputs.dbpedia_log(7, 0, 2000)
    assert a[0] != inputs.dbpedia_log(8, 0, 2000)[0]
    assert a[0] != inputs.dbpedia_log(7, 1, 2000)[0]


def test_materialized_inputs_are_byte_identical(tmp_path, monkeypatch):
    for wl, size in ((workloads.CodeUnique(), 300), (workloads.DbpediaLog(), 2000)):
        monkeypatch.setattr(wl, "size", size)
        d1, t1 = wl.materialize(str(tmp_path / "a"), 3, 0)
        d2, t2 = wl.materialize(str(tmp_path / "b"), 3, 0)
        assert t1 == t2
        names = sorted(os.listdir(d1))
        assert names == sorted(os.listdir(d2))
        _, mismatch, errors = filecmp.cmpfiles(d1, d2, names, shallow=False)
        assert not mismatch and not errors


def test_code_truth_matches_the_kernels():
    import pandas as pd

    from kgforge.operators.extract import _parse_one_uncached
    from kgforge.sparql.mentions import detect_mentions_batch

    rows, truth = inputs.code_unique(5, 0, 400)
    found = detect_mentions_batch(pd.Series([r["content"] for r in rows]))
    texts = [m.raw for ms in found for m in ms]
    parsed = [_parse_one_uncached(t) for t in texts]
    assert len(texts) == truth.n_queries + truth.n_rejects
    assert sum(p[0] for p in parsed) == truth.n_queries
    assert sum(p[4] for p in parsed if p[0]) == truth.n_tps
    assert len({p[5] for p in parsed if p[0]}) == truth.n_queries  # all distinct BGPs


def test_log_truth_matches_the_kernels():
    import re
    from urllib.parse import unquote_plus

    from kgforge.operators.extract import _parse_one_uncached
    from kgforge.sources.logs import LOG_PATTERN

    lines, truth = inputs.dbpedia_log(5, 0, 3000)
    hits = []
    for line in lines:
        m = re.match(LOG_PATTERN, line)
        if m and m.group(4).startswith("/sparql"):
            q = re.search(r"[?&]query=([^&]*)", m.group(4))
            hits.append((m.group(1), unquote_plus(q.group(1))))
    assert len(hits) == truth.n_hits
    assert sum(not _parse_one_uncached(q)[0] for _, q in hits) == truth.n_rejected
    first = {}
    for h in hits:
        first.setdefault(h, True)
    assert len(hits) - len(first) == truth.n_dups
    assert sum(_parse_one_uncached(q)[0] for _, q in first) == truth.n_ok
