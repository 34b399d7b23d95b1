"""Per-process state a reused Python worker keeps across tasks: the zip
finders PySpark re-reads at every task start (session.drop_zip_finders)
and the one DuckDB connection of the custom-validation batch path. No
Spark needed."""

import importlib
import sys
import zipfile
import zipimport

import duckdb
import pytest

from pdf_extractor_spark.config import FieldSchema, ValidationSchema
from pdf_extractor_spark.oracle import validator
from pdf_extractor_spark.session import drop_zip_finders


@pytest.fixture
def zip_pkg(tmp_path):
    """A package `zpkg` with modules `a` and `b`, importable only from a
    zip on sys.path; sys.path and sys.modules are restored afterwards."""
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/a.py", "NAME = 'a'\n")
        z.writestr("zpkg/b.py", "NAME = 'b'\n")
    saved = list(sys.path)
    sys.path.insert(0, str(archive))
    yield str(archive)
    sys.path[:] = saved
    for name in ("zpkg", "zpkg.a", "zpkg.b"):
        sys.modules.pop(name, None)
    for p in [p for p in sys.path_importer_cache if p.startswith(str(archive))]:
        del sys.path_importer_cache[p]


def _zip_finders():
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def test_drop_zip_finders_stops_the_reread(zip_pkg, monkeypatch):
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or real(path)
    )
    from zpkg import a

    assert a.NAME == "a"
    assert any(p.startswith(zip_pkg) for p in _zip_finders())
    if sys.version_info < (3, 13):
        # the cost being removed: a cached zipimporter re-reads its
        # archive on every invalidate_caches() (3.13 made this lazy)
        reads.clear()
        importlib.invalidate_caches()
        assert zip_pkg in reads
    sys.path_importer_cache[zip_pkg + "-absent"] = None
    others = {
        p: f for p, f in sys.path_importer_cache.items()
        if not isinstance(f, zipimport.zipimporter)
    }

    drop_zip_finders()
    assert _zip_finders() == []
    # FileFinder and None entries are left alone
    assert all(sys.path_importer_cache.get(p, 0) is f for p, f in others.items())

    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    # the finder comes back from zipimport's directory cache, unread
    from zpkg import b

    assert b.NAME == "b"
    assert b.__loader__.archive == zip_pkg
    assert reads == []


_SCHEMA = ValidationSchema(
    name="s",
    fields={"x": FieldSchema(type="number"), "y": FieldSchema(type="number")},
)


def test_duckdb_connection_is_reused_across_batches():
    ok = validator.eval_condition_sql_batch(
        "x > 1", [{"x": "2"}, {"x": "0,5"}, {}], _SCHEMA
    )
    assert ok == [True, False, False]
    con = validator._duck_connection()

    with pytest.raises(duckdb.BinderException):
        validator.eval_condition_sql_batch("no_such_col > 1", [{"x": 1}], _SCHEMA)
    # the failed call left no frame registered
    names = {r[0] for r in con.execute("SHOW TABLES").fetchall()}
    assert "batch" not in names

    # a different field set on the same connection
    ok = validator.eval_condition_sql_batch(
        "coalesce(x, 0) + y = z", [{"y": 1, "z": 1}, {"x": 2, "y": 1, "z": 4}],
        _SCHEMA,
    )
    assert ok == [True, False]
    assert validator._duck_connection() is con
