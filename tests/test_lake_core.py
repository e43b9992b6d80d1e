"""The lake core under the Delta and Iceberg sinks.

Two kinds of check:

- structure: the sinks are adapters over `sources/lake_core.py` — they
  do not import each other, no module under ``sources/`` reaches into
  a sink's private names, and the commit-retry loop exists once;
- the shared commit loop over both formats: a writer that loses its
  put-if-absent claim re-reads the table and commits exactly one new
  version, and one that loses every claim gives up after
  `lake_core.MAX_COMMIT_ATTEMPTS` without moving the table or leaving
  manifest blobs behind.

Lost claims are real ones: the patched claim step calls the sink's own
claim on the version that is already taken, so the ``link(2)`` fails
exactly as it does when another writer's commit lands first.
"""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

import hainan_big_data_recommend_system_spark as pkg
from hainan_big_data_recommend_system_spark.operators.avrocf import parse_avro
from hainan_big_data_recommend_system_spark.sources import (
    delta_sink,
    iceberg_sink,
    lake_core,
)

PKG_DIR = pathlib.Path(pkg.__file__).parent
SOURCES = PKG_DIR / "sources"
SINKS = {p.stem for p in SOURCES.glob("*_sink.py")}


def _imported(path: pathlib.Path):
    """``(module, name)`` for every import in ``path``, function-local
    ones included; ``module`` is the last dotted component."""
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.ImportFrom):
            mod = (node.module or "").rsplit(".", 1)[-1]
            for a in node.names:
                if mod:
                    yield mod, a.name
                else:  # ``from . import delta_sink``
                    yield a.name, None
        elif isinstance(node, ast.Import):
            for a in node.names:
                yield a.name.rsplit(".", 1)[-1], None


def test_sinks_do_not_import_each_other():
    assert SINKS >= {"delta_sink", "iceberg_sink"}
    for sink in sorted(SINKS):
        others = SINKS - {sink}
        hits = [m for m, _ in _imported(SOURCES / f"{sink}.py")
                if m in others]
        assert not hits, f"{sink} imports {hits}"


def test_no_private_names_from_another_sink():
    bad = []
    for path in sorted(SOURCES.glob("*.py")):
        for mod, name in _imported(path):
            if (mod in SINKS and mod != path.stem
                    and name is not None and name.startswith("_")):
                bad.append(f"{path.name}: {mod}.{name}")
    assert not bad, bad


def test_one_commit_retry_loop():
    texts = [p.read_text(encoding="utf-8") for p in PKG_DIR.rglob("*.py")]
    assert sum(t.count("version claims in a row") for t in texts) == 1
    assert not [t for t in texts if "max_retries" in t]


# ---------------------------------------------------------------------------
# the shared retry loop, driven through both formats' claim steps
# ---------------------------------------------------------------------------


def _losing_claim(monkeypatch, module, name: str, n_lose: int) -> list:
    """Patch ``module.<name>`` so its first ``n_lose`` calls claim the
    version below the one asked for — already committed, so the real
    claim loses its race and cleans up after itself.  Returns the list
    of versions the verb tried to claim."""
    real = getattr(module, name)
    tried: list[int] = []

    def claim(table_dir, version, *rest):
        tried.append(version)
        if len(tried) <= n_lose:
            assert not real(table_dir, version - 1, *rest)
            return False
        return real(table_dir, version, *rest)

    monkeypatch.setattr(module, name, claim)
    return tried


def _unreferenced_blobs(tbl: str) -> set[str]:
    """Avro blobs under ``metadata/`` that no snapshot's tree names."""
    referenced = set()
    for ml in iceberg_sink._prev_state(tbl)["snapshots"].values():
        referenced.add(ml)
        with open(os.path.join(tbl, ml), "rb") as fh:
            for e in parse_avro(fh.read())["records"]:
                referenced.add(e["manifest_path"])
    on_disk = {f"metadata/{f}"
               for f in os.listdir(os.path.join(tbl, "metadata"))
               if f.endswith(".avro")}
    return on_disk - referenced


FORMATS = {
    "delta": (delta_sink, "_claim_version", delta_sink.write_delta,
              lambda tbl: delta_sink.snapshot(tbl)["version"]),
    "iceberg": (iceberg_sink, "_claim_metadata", iceberg_sink.write_iceberg,
                iceberg_sink.current_version),
}


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_lost_claims_below_limit_commit_once(spark, tmp_path, monkeypatch,
                                             fmt):
    module, claim_name, write, version_of = FORMATS[fmt]
    tbl = str(tmp_path / fmt)
    write(spark.range(5).toDF("id"), tbl)
    assert version_of(tbl) == 0
    n_lose = lake_core.MAX_COMMIT_ATTEMPTS - 1
    tried = _losing_claim(monkeypatch, module, claim_name, n_lose)
    out = write(spark.range(5, 8).toDF("id"), tbl)
    assert tried == [1] * (n_lose + 1)
    assert out["version"] == 1 and version_of(tbl) == 1
    if fmt == "delta":
        assert delta_sink._json_versions(tbl) == [0, 1]
        assert delta_sink.snapshot(tbl)["live_rows"] == 8
    else:
        assert sorted(os.listdir(os.path.join(tbl, "metadata"))).count(
            "v1.metadata.json") == 1
        assert iceberg_sink.read_table(tbl)["live_rows"] == 8
        assert not _unreferenced_blobs(tbl)
    assert not [f for _, _, fs in os.walk(tbl) for f in fs
                if ".tmp-" in f]


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_claims_lost_every_time_give_up(spark, tmp_path, monkeypatch, fmt):
    module, claim_name, write, version_of = FORMATS[fmt]
    tbl = str(tmp_path / fmt)
    write(spark.range(5).toDF("id"), tbl)
    tried = _losing_claim(monkeypatch, module, claim_name, n_lose=1 << 30)
    with pytest.raises(ValueError) as err:
        write(spark.range(5, 8).toDF("id"), tbl)
    assert str(err.value) == "lost 10 version claims in a row; giving up"
    assert len(tried) == lake_core.MAX_COMMIT_ATTEMPTS == 10
    assert version_of(tbl) == 0
    if fmt == "iceberg":
        assert not _unreferenced_blobs(tbl)
    assert not [f for _, _, fs in os.walk(tbl) for f in fs
                if ".tmp-" in f]
