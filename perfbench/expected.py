"""Oracle digests for the fixed offline fixture.

Two oracles (``als_rank1_exact_recs``, ``corpus_pipeline_ledger``) take
tens of seconds each in DuckDB, longer than the jobs they check.  The
offline fixture is fixed, so their results are too: ``expected.json``
stores each query's oracle digest keyed by the fixture's content hash
and the oracle SQL's hash.  A run compares its Spark result with the
stored digest; when either key differs (a regenerated fixture, an edited
oracle) it runs the oracle SQL live instead.

Refresh the file after an intended fixture or oracle change with::

    python3 -m perfbench.expected
"""

from __future__ import annotations

import hashlib
import json
import os

from hainan_big_data_recommend_system_spark.catalog import TABLES

from . import oracle

PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
_cache: dict | None = None
_fixture_sha: dict[str, str] = {}


def fixture_sha(sf_dir: str) -> str:
    if sf_dir not in _fixture_sha:
        h = hashlib.sha256()
        for t in TABLES:
            with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
                h.update(fh.read())
        _fixture_sha[sf_dir] = h.hexdigest()[:16]
    return _fixture_sha[sf_dir]


def _sql_sha(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def _stored() -> dict:
    global _cache
    if _cache is None:
        try:
            with open(PATH) as fh:
                _cache = json.load(fh)
        except (OSError, ValueError):
            _cache = {}
    return _cache


def oracle_digest(name: str, sf_dir: str) -> tuple[str, int, str]:
    """(digest, rows, source) of the oracle result; source is ``stored``
    or ``live``."""
    from hainan_big_data_recommend_system_spark.qcatalog import REGISTRY

    sql = REGISTRY[name].oracle
    entry = _stored().get(name, {})
    if entry.get("fixture") == fixture_sha(sf_dir) and entry.get("sql") == _sql_sha(sql):
        return entry["digest"], entry["rows"], "stored"
    want = oracle.connect(sf_dir).execute(sql).df()
    return oracle.digest(want), len(want), "live"


def check(name: str, got, sf_dir: str) -> tuple[bool, str]:
    """(ok, reason) for a Spark result (pandas) of registry query ``name``."""
    try:
        digest, rows, source = oracle_digest(name, sf_dir)
    except Exception as exc:
        return False, f"oracle failed: {type(exc).__name__}: {exc}"[:300]
    if len(got) != rows:
        return False, f"rows {len(got)} != oracle {rows} ({source})"
    if oracle.digest(got) != digest:
        return False, f"digest differs from oracle ({source})"
    return True, ""


def refresh(sf_dir: str, names) -> dict:
    from hainan_big_data_recommend_system_spark.qcatalog import REGISTRY

    con = oracle.connect(sf_dir)
    out = {}
    for name in names:
        sql = REGISTRY[name].oracle
        want = con.execute(sql).df()
        out[name] = {"fixture": fixture_sha(sf_dir), "sql": _sql_sha(sql),
                     "digest": oracle.digest(want), "rows": len(want)}
    return out


if __name__ == "__main__":
    import tempfile

    from .common import OFFLINE_FIXTURE_SEED, OFFLINE_SF
    from .fixtures import generate
    from .offline import LEDGER, QUERIES

    with tempfile.TemporaryDirectory() as tmp:
        generate(tmp, OFFLINE_SF, OFFLINE_FIXTURE_SEED)
        data = refresh(tmp, QUERIES + (LEDGER,))
    with open(PATH, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {PATH}: {len(data)} oracle digests")
