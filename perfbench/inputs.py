"""Seeded input generators for the pipeline benchmark.

Each generator takes the workload seed, a repetition index and a size, and
returns the input the program receives plus the ground truth the benchmark
checks outputs against.  One (seed, rep, size) always gives byte-identical
input: every random draw comes from a ``random.Random`` built from the
workload name, the seed and the repetition, and no draw depends on dict or
set iteration order.  Each call of a run gets its own repetition, so no call
reads query texts an earlier call already parsed (the program memoizes
parses per worker process, and repeated inputs would time the cache).

* ``code_unique`` — source files where each query-carrying file holds its
  own distinct, fully ground query (Zipf-skewed subjects, two hot
  predicates, objects drawn from the entity-dictionary surfaces), next to
  SQL strings that pass the JVM prefilter and plain code that does not.
* ``dbpedia_log`` — an Apache combined log over several days: about half the
  query texts are distinct, clients repeat their own queries, and some lines
  are not SPARQL at all.
"""

from __future__ import annotations

import bisect
import itertools
import random
from typing import Dict, List, NamedTuple, Tuple
from urllib.parse import quote_plus

# bump when any generator's output changes: input caches key on it
GEN_VERSION = 1

DBR = "http://dbpedia.org/resource/"
DBO = "http://dbpedia.org/ontology/"
FOAF = "http://xmlns.com/foaf/0.1/"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
PREFIXES = f"PREFIX dbr: <{DBR}> PREFIX dbo: <{DBO}> PREFIX foaf: <{FOAF}> PREFIX rdfs: <{RDFS}> "

# surfaces present in kgforge.corpus.entity_dict_rows(), written the way they
# appear as IRI local names / literals (linking lowercases them)
_DICT_IRI_SURFACES = ["Paris", "France", "Nantes", "Europe", "Brittany", "Jules_Verne", "JV"] + [
    f"Decoy{i}" for i in range(0, 490, 3)
]
_DICT_LITERALS = ["paris", "france", "nantes", "Jules Verne", "jv", "europe"]
_CLASSES = ["Person", "Place", "City", "Country", "Organisation", "Writer", "Band"]
# (prefixed name, object kind): kind picks the object generator
_HOT_PREDS = [("a", "class"), ("dbo:wikiPageWikiLink", "entity")]
_COLD_PREDS = [
    ("dbo:birthPlace", "entity"), ("dbo:country", "entity"), ("dbo:capital", "entity"),
    ("dbo:author", "entity"), ("foaf:name", "literal"), ("rdfs:label", "literal"),
    ("dbo:region", "entity"), ("foaf:knows", "entity"),
]

_FILLER = [
    "    total += values[{k}] * {k}\n",
    "def helper_{k}(x, y):\n    return (x + y) % {k}\n\n",
    "# keep the {k}-th item only when it is positive\n",
    "    if count > {k}:\n        break\n",
    "public int field{k} = {k};\n",
    "result_{k} = [v for v in range({k}) if v % 3]\n",
]
_SQL_TEMPLATES = [
    'cur.execute("SELECT id, name FROM users_{k} WHERE id = %s", (uid,))\n',
    'query = "SELECT count(*) FROM orders WHERE shop = {k} GROUP BY day"\n',
    'String sql = "SELECT a.id FROM accounts a JOIN plans p ON p.id = a.plan LIMIT {k}";\n',
]


class CodeTruth(NamedTuple):
    """What the program must find in a code corpus."""

    n_files: int
    n_queries: int  # planted queries, one per query-carrying file, all valid
    n_tps: int  # triple patterns summed over the planted queries
    n_rejects: int  # SQL files the detector picks up and the parser rejects


class LogTruth(NamedTuple):
    """What the program must find in a log."""

    n_lines: int
    n_hits: int  # lines carrying /sparql?query=
    n_dups: int  # same client, same query text, seen earlier
    n_rejected: int  # hits whose query does not parse
    n_ok: int  # hits that parse and are not same-client repeats
    n_days: int


def _rng(workload: str, seed: int, rep: int) -> random.Random:
    return random.Random(f"{workload}:{seed}:{rep}:{GEN_VERSION}")


def _zipf_cum(n: int, s: float) -> List[float]:
    return list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))


def _zipf(rng: random.Random, cum: List[float], n: int = 0) -> int:
    """Zipf draw over the first ``n`` ranks of ``cum`` (all ranks when 0)."""
    n = n or len(cum)
    return bisect.bisect_left(cum, rng.random() * cum[n - 1], 0, n)


def _ground_tp(rng: random.Random, subj_cum: List[float]) -> Tuple[str, str, str]:
    subj = f"dbr:Entity_{_zipf(rng, subj_cum)}"
    pred, okind = rng.choice(_HOT_PREDS) if rng.random() < 0.5 else rng.choice(_COLD_PREDS)
    if okind == "class":
        obj = f"dbo:{rng.choice(_CLASSES)}"
    elif okind == "literal":
        obj = f'"{rng.choice(_DICT_LITERALS)}"@en'
    elif rng.random() < 0.8:
        obj = f"dbr:{rng.choice(_DICT_IRI_SURFACES)}"
    else:
        obj = f"dbr:Unlisted_{rng.randrange(5000)}"
    return subj, pred, obj


def _ground_query(rng: random.Random, tps: List[Tuple[str, str, str]]) -> str:
    body = " . ".join(f"{s} {p} {o}" for s, p, o in tps)
    form = "ASK WHERE" if rng.random() < 0.5 else "SELECT * WHERE"
    return f"{PREFIXES}{form} {{ {body} }}"


def _pad(rng: random.Random, head: str, size: int) -> str:
    parts = [head]
    n = len(head)
    while n < size:
        line = rng.choice(_FILLER).format(k=rng.randrange(1, 1000))
        parts.append(line)
        n += len(line)
    return "".join(parts)


def _log_line(ip: str, ts: str, target: str, status: int, size: int, agent: str) -> str:
    return f'{ip} - - [{ts}] "GET {target} HTTP/1.1" {status} {size} "-" "{agent}"'


def code_unique(seed: int, rep: int, n_files: int) -> Tuple[List[dict], CodeTruth]:
    """Source-file rows (repo, path, commit, lang, content) and their truth.

    Shares: 60% carry one distinct ground query (as a docstring, a comment,
    a markdown fence or an endpoint log line), 10% carry SQL strings that
    pass the JVM prefilter (a third of those sit near a brace, so the
    detector picks them up and the parser rejects them), 30% are plain code.
    Files are padded to 1-4 KB."""
    rng = _rng("code_unique", seed, rep)
    subj_cum = _zipf_cum(4000, 1.1)
    seen: set = set()
    rows: List[dict] = []
    n_queries = n_tps = n_rejects = 0
    for i in range(n_files):
        roll = rng.random()
        size = rng.randrange(1024, 4096)
        if roll < 0.6:
            while True:
                tps = [_ground_tp(rng, subj_cum) for _ in range(rng.randrange(1, 4))]
                key = frozenset(tps)
                if len(key) == len(tps) and key not in seen:
                    break
            seen.add(key)
            q = _ground_query(rng, tps)
            carrier = rng.randrange(4)
            if carrier == 0:
                lang, head = "py", f'def fetch_{i}():\n    """Endpoint query:\n    {q}\n    """\n    return None\n\n'
            elif carrier == 1:
                lang, head = "java", f"// {q}\npublic class Q{i} {{ }}\n\n"
            elif carrier == 2:
                lang, head = "md", f"# Example {i}\n\n```sparql\n{q}\n```\n\n"
            else:
                ts = f"{1 + i % 28:02d}/Aug/2026:10:{i % 60:02d}:{(i // 60) % 60:02d} +0000"
                lang = "log"
                head = _log_line(
                    f"10.1.{i % 200}.{i % 250}", ts,
                    f"/sparql?query={quote_plus(q)}&format=json", 200, 1000 + i % 4000, "bot/2",
                ) + "\n"
            n_queries += 1
            n_tps += len(tps)
        elif roll < 0.7:
            lang = "py"
            head = rng.choice(_SQL_TEMPLATES).format(k=i)
            if rng.random() < 1 / 3:
                head += "cache = {%d: rows}\n" % i  # brace in reach: a detected, rejected mention
                n_rejects += 1
        else:
            lang = rng.choice(["py", "java", "txt"])
            head = f"# module {i}\n"
        content = _pad(rng, head, size)  # drawn before the commit id
        rows.append(
            {
                "repo": f"org{i % 37}/repo{i % 301}",
                "path": f"src/pkg{i % 53}/file{i}.{lang}",
                "commit": f"{rng.getrandbits(160):040x}",
                "lang": lang,
                "content": content,
            }
        )
    return rows, CodeTruth(n_files, n_queries, n_tps, n_rejects)


_LOG_TEMPLATES = [
    "SELECT ?x WHERE {{ ?x dbo:birthPlace dbr:{e} . ?x a dbo:{c} }} LIMIT {k}",
    "SELECT ?o WHERE {{ dbr:{e} dbo:wikiPageWikiLink ?o }} LIMIT {k}",
    "SELECT DISTINCT ?p ?o WHERE {{ dbr:Entity_{n} ?p ?o }} LIMIT {k}",
    "ASK WHERE {{ dbr:Entity_{n} a dbo:{c} }}",
    "SELECT ?n WHERE {{ ?x foaf:name ?n . ?x dbo:country dbr:{e} . ?x a dbo:{c} }} LIMIT {k}",
    "SELECT ?x ?y WHERE {{ ?x dbo:author ?y . ?y dbo:birthPlace dbr:{e} }} LIMIT {k}",
]
_NON_SPARQL = ["/page/{e}", "/resource/{e}", "/favicon.ico", "/ontology/{c}", "/data/{e}.json"]


def _log_query(rng: random.Random) -> str:
    t = rng.choice(_LOG_TEMPLATES).format(
        e=rng.choice(_DICT_IRI_SURFACES), c=rng.choice(_CLASSES),
        n=rng.randrange(20000), k=rng.choice([10, 50, 100, 1000]),
    )
    return PREFIXES + t


def dbpedia_log(seed: int, rep: int, n_lines: int, n_days: int = 4) -> Tuple[List[str], LogTruth]:
    """Log lines in time order and their truth.

    About 6% of lines are not SPARQL (other endpoint pages, plus a few that
    do not match the combined-log format).  Of the SPARQL lines, 10% repeat
    the client's previous query, and the rest draw a new query half the time
    and a Zipf-popular recent one otherwise; 4% of new queries are truncated
    or lack their PREFIX declarations and must be rejected."""
    rng = _rng("dbpedia_log", seed, rep)
    ip_cum = _zipf_cum(400, 1.0)
    recent_cum = _zipf_cum(64, 1.2)
    step = n_days * 86400 // max(1, n_lines)
    if step < 1:
        raise ValueError(f"{n_lines} lines do not fit {n_days} days at one per second")
    last_by_ip: Dict[str, str] = {}
    seen_pair: set = set()
    pool: List[str] = []
    bad: set = set()
    lines: List[str] = []
    n_hits = n_dups = n_rej = n_ok = 0
    for i in range(n_lines):
        t = i * step + rng.randrange(step)
        day, sec = divmod(t, 86400)
        ts = f"{12 + day:02d}/Aug/2026:{sec // 3600:02d}:{sec % 3600 // 60:02d}:{sec % 60:02d} +0000"
        ip = f"192.0.{_zipf(rng, ip_cum) // 250}.{_zipf(rng, ip_cum) % 250 + 1}"
        agent = f"client/{rng.randrange(5)}"
        roll = rng.random()
        if roll < 0.05:
            target = rng.choice(_NON_SPARQL).format(e=rng.choice(_DICT_IRI_SURFACES), c=rng.choice(_CLASSES))
            lines.append(_log_line(ip, ts, target, 200, rng.randrange(100, 9000), agent))
            continue
        if roll < 0.06:
            lines.append(f"{ip} garbled entry {rng.getrandbits(32):08x}")
            continue
        if ip in last_by_ip and rng.random() < 0.1:
            q = last_by_ip[ip]
        elif not pool or rng.random() < 0.5:
            q = _log_query(rng)
            roll = rng.random()
            if roll < 0.02:
                q = q[: len(q) // 2]  # truncated: unbalanced braces
                bad.add(q)
            elif roll < 0.04:
                q = q[len(PREFIXES):]  # prefixed names with no PREFIX declared
                bad.add(q)
            pool.append(q)
        else:
            q = pool[len(pool) - 1 - _zipf(rng, recent_cum, min(len(pool), 64))]
        last_by_ip[ip] = q
        n_hits += 1
        n_rej += q in bad
        if (ip, q) in seen_pair:
            n_dups += 1
        else:
            n_ok += q not in bad
        seen_pair.add((ip, q))
        params = f"query={quote_plus(q)}&format=json"
        if rng.random() < 0.3:
            params = "default-graph-uri=http%3A%2F%2Fdbpedia.org&" + params
        lines.append(_log_line(ip, ts, f"/sparql?{params}", 200, rng.randrange(100, 90000), agent))
    return lines, LogTruth(n_lines, n_hits, n_dups, n_rej, n_ok, n_days)
