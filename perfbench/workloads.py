"""The benchmark's workloads: input materialization, the timed call, and the
checks on each call's outputs.

A workload owns everything that differs between the code pipeline
(``pipeline.run``) and the log pipeline (``pipeline_log.run_log``): how its
generated input is written to disk, which call it times, which output tables
that call writes, and what those tables must hold given the generator's
ground truth.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Dict, List

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import inputs


def data_files(path: str) -> List[str]:
    """Data files of a table directory (no hidden, marker or checksum files)."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out.extend(os.path.join(root, f) for f in files if not f.startswith((".", "_")))
    return sorted(out)


def table_rows(path: str) -> int:
    if not data_files(path):
        return 0
    return pads.dataset(path, format="parquet", partitioning="hive").count_rows()


def read_table(path: str, columns=None) -> pa.Table:
    return pads.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def table_hash(path: str, columns: List[str]) -> str:
    """Order-insensitive content hash: the wrapping sum of per-row hashes,
    so it does not depend on file layout or row order."""
    import pandas as pd

    df = read_table(path, columns).to_pandas()
    for c in columns:
        if df[c].dtype == object and len(df) and not isinstance(df[c].iloc[0], (str, type(None))):
            df[c] = [json.dumps(v.tolist() if hasattr(v, "tolist") else v, sort_keys=True, default=str)
                     for v in df[c]]
        elif isinstance(df[c].dtype, pd.CategoricalDtype):
            df[c] = df[c].astype(str)
    h = pd.util.hash_pandas_object(df[columns], index=False).to_numpy().sum()
    return f"{int(h):016x}"


class Workload:
    name = ""
    size = 0  # input rows per call
    tables: List[str] = []  # output tables the call writes
    hashed: Dict[str, List[str]] = {}  # table -> columns of its content hash

    def input_dir(self, cache: str, seed: int, rep: int) -> str:
        return os.path.join(
            cache, f"{self.name}-s{seed}-r{rep}-n{self.size}-v{inputs.GEN_VERSION}"
        )

    def materialize(self, cache: str, seed: int, rep: int):
        """Input directory for (seed, rep) and the generator's truth, written
        once and reused: the truth is stored next to the data."""
        d = self.input_dir(cache, seed, rep)
        truth_file = os.path.join(d, "_truth.json")
        if not os.path.exists(truth_file):
            tmp = d + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            truth = self._write(tmp, seed, rep)
            with open(os.path.join(tmp, "_truth.json"), "w") as fh:
                json.dump(truth._asdict(), fh)
            shutil.rmtree(d, ignore_errors=True)
            os.rename(tmp, d)
        with open(truth_file) as fh:
            return d, self.truth_type(**json.load(fh))

    def input_bytes(self, d: str) -> int:
        return sum(os.path.getsize(f) for f in data_files(d))

    def digest(self, out: str) -> dict:
        """Row count of every output table plus the content hash of the
        deterministic ones."""
        dig = {f"rows.{t}": table_rows(os.path.join(out, t)) for t in self.tables}
        for t, cols in self.hashed.items():
            dig[f"hash.{t}"] = table_hash(os.path.join(out, t), cols)
        return dig


class CodeUnique(Workload):
    name = "code_unique"
    size = 2000
    n_input_files = 16
    truth_type = inputs.CodeTruth
    tables = [
        "parsed", "checkpoints", "triples_raw", "quarantine", "bgp_ranking",
        "triples_fixture", "triples", "stage_metrics",
    ]
    hashed = {
        "triples_fixture": ["subj", "pred", "obj", "content_sha256"],
        "bgp_ranking": ["bgp_hash", "count", "canonical"],
        "triples": ["subj", "pred", "obj", "src_count", "lineage", "pred_family"],
    }

    def _write(self, d: str, seed: int, rep: int):
        rows, truth = inputs.code_unique(seed, rep, self.size)
        per = -(-len(rows) // self.n_input_files)
        for f in range(self.n_input_files):
            pq.write_table(
                pa.Table.from_pylist(rows[f * per:(f + 1) * per]),
                os.path.join(d, f"part-{f:05d}.parquet"),
                row_group_size=128,
            )
        return truth

    def call(self, spark, d: str, out: str) -> dict:
        from kgforge import pipeline

        return pipeline.run(spark, spark.read.parquet(d), out, n_parts=64, resume=True)

    def check(self, out: str, truth, m: dict, dig: dict) -> List[str]:
        """Outputs against the generator's truth: every planted query found,
        parsed and ranked once; every triple pattern exploded and, being
        ground, counted once in the graph; every SQL mention rejected."""
        errs = []

        def want(what, got, exp):
            if got != exp:
                errs.append(f"{what}: got {got}, want {exp}")

        want("n_source", m["n_source"], truth.n_files)
        want("n_mentions", m["n_mentions"], truth.n_queries + truth.n_rejects)
        want("n_parse_ok", m["n_parse_ok"], truth.n_queries)
        want("n_distinct_bgps", m["n_distinct_bgps"], truth.n_queries)
        want("rows.bgp_ranking", dig["rows.bgp_ranking"], truth.n_queries)
        want("rows.triples_raw", dig["rows.triples_raw"], truth.n_tps)
        ranking = read_table(os.path.join(out, "bgp_ranking"), ["count"])
        want("sum(bgp_ranking.count)", pc.sum(ranking["count"]).as_py(), truth.n_queries)
        quarantine = read_table(os.path.join(out, "quarantine"), ["n"])
        want("sum(quarantine.n)", pc.sum(quarantine["n"]).as_py() or 0, truth.n_rejects)
        graph = read_table(os.path.join(out, "triples"), ["src_count"])
        want("sum(triples.src_count)", pc.sum(graph["src_count"]).as_py(), truth.n_tps)
        want("n_graph_triples", m["n_graph_triples"], dig["rows.triples"])
        want("n_fixture_triples", m["n_fixture_triples"], dig["rows.triples_fixture"])
        return errs


    def check_sha256(self, d: str, out: str) -> int:
        """triples_raw rows whose content_sha256 is not the sha256 of their
        source row's content, computed here with hashlib."""
        import hashlib

        src = read_table(d, ["repo", "path", "commit", "content"]).to_pydict()
        sha = {
            k: hashlib.sha256(c.encode("utf-8")).hexdigest()
            for *k, c in zip(src["repo"], src["path"], src["commit"], src["content"])
            for k in [tuple(k)]
        }
        raw = read_table(os.path.join(out, "triples_raw"), ["repo", "path", "commit", "content_sha256"]).to_pydict()
        return sum(
            sha.get(k) != h
            for *k, h in zip(raw["repo"], raw["path"], raw["commit"], raw["content_sha256"])
            for k in [tuple(k)]
        )


class DbpediaLog(Workload):
    name = "dbpedia_log"
    size = 10000
    n_input_files = 4
    truth_type = inputs.LogTruth
    tables = ["entries", "ranking", "stats"]
    hashed = {
        "entries": [
            "ip", "ts", "query", "parse_ok", "error", "query_form", "simple",
            "n_tps", "bgp_hash", "canonical", "ds",
        ],
        "ranking": ["bgp_hash", "count", "canonical"],
        "stats": ["ds", "hits", "ok", "rejected", "dups"],
    }

    def _write(self, d: str, seed: int, rep: int):
        lines, truth = inputs.dbpedia_log(seed, rep, self.size)
        per = -(-len(lines) // self.n_input_files)
        for f in range(self.n_input_files):
            with open(os.path.join(d, f"access-{f:02d}.log"), "w") as fh:
                fh.write("\n".join(lines[f * per:(f + 1) * per]) + "\n")
        return truth

    def call(self, spark, d: str, out: str) -> dict:
        from kgforge import pipeline_log

        return pipeline_log.run_log(spark, d, out)

    def check(self, out: str, truth, m: dict, dig: dict) -> List[str]:
        """Outputs against the generator's truth: every line read, every hit
        found, same-client repeats and planted rejects counted, one stats
        row and one entries partition per day."""
        errs = []

        def want(what, got, exp):
            if got != exp:
                errs.append(f"{what}: got {got}, want {exp}")

        want("n_lines", m["n_lines"], truth.n_lines)
        want("n_hits", m["n_hits"], truth.n_hits)
        want("n_dups", m["n_dups"], truth.n_dups)
        want("n_rejected", m["n_rejected"], truth.n_rejected)
        want("rows.entries", dig["rows.entries"], truth.n_hits - truth.n_dups)
        want("rows.stats", dig["rows.stats"], truth.n_days)
        days = [p for p in os.listdir(os.path.join(out, "entries")) if p.startswith("ds=")]
        want("entries partitions", len(days), truth.n_days)
        entries = read_table(os.path.join(out, "entries"), ["parse_ok"])
        n_ok = pc.sum(entries["parse_ok"].cast(pa.int64())).as_py()
        want("n_ok", m["n_ok"], truth.n_ok)
        want("entries parse_ok", n_ok, truth.n_ok)
        ranking = read_table(os.path.join(out, "ranking"), ["count"])
        want("sum(ranking.count)", pc.sum(ranking["count"]).as_py(), n_ok)
        want("n_distinct_bgps", m["n_distinct_bgps"], dig["rows.ranking"])
        return errs


WORKLOADS = {w.name: w for w in (CodeUnique(), DbpediaLog())}
