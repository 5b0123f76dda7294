"""Order-insensitive, type-tagged result digests and the cache of the
digests the DuckDB oracles expect.

Values are normalized by ``tools/check.py``'s ``_norm_value`` (imported,
not copied), so ``5`` and ``5.0`` digest differently, exactly as the
oracle checker compares them. The expected digest of every query comes
from its DuckDB oracle over the committed corpus; the slow brute-force
oracles make recomputing them per run unaffordable, so they are cached in
``expected.json`` under the corpus checksum and recomputed only when the
corpus or an oracle text changes.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORPUS = os.path.join(HERE, "corpus")
EXPECTED = os.path.join(HERE, "expected.json")

_check = None


def check_module():
    """``tools/check.py`` loaded by path (``tools`` is not a package)."""
    global _check
    if _check is None:
        spec = importlib.util.spec_from_file_location(
            "perfbench_tools_check", os.path.join(ROOT, "tools", "check.py")
        )
        _check = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(_check)
    return _check


def digest(columns, rows) -> str:
    """sha256 over the sorted column names and the sorted normalized rows;
    columns are matched by name, rows as a multiset."""
    norm = check_module()._norm_value
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def corpus_checksum(corpus_dir: str = CORPUS) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(corpus_dir)):
        h.update(name.encode())
        with open(os.path.join(corpus_dir, name), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def oracle_digest(con, sql: str) -> str:
    rel = con.sql(sql)
    return digest(rel.columns, rel.fetchall())


def _sql_key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def expected_digests(oracles: dict[str, str]) -> dict[str, str]:
    """Digest per oracle, from the cache when the corpus checksum and the
    oracle text both match, else from DuckDB (and the cache is updated)."""
    checksum = corpus_checksum()
    try:
        with open(EXPECTED) as fh:
            cache = json.load(fh)
    except (OSError, ValueError):
        cache = {}
    if cache.get("corpus") != checksum:
        cache = {"corpus": checksum, "digests": {}}
    entries = cache["digests"]
    missing = [
        n for n, sql in oracles.items()
        if entries.get(n, {}).get("sql") != _sql_key(sql)
    ]
    if missing:
        con = check_module().duck_connection(CORPUS)
        for n in missing:
            entries[n] = {
                "sql": _sql_key(oracles[n]),
                "digest": oracle_digest(con, oracles[n]),
            }
        con.close()
        with open(EXPECTED, "w") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return {n: entries[n]["digest"] for n in oracles}
