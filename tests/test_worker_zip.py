"""The zip shipped to Python workers is keyed by content: an edit to any
shipped file, code or data, gives a new zip path even when the file's
mtime does not move."""

import os
import zipfile

from magmapandas_spark.relational.suite import (
    ensure_workers_can_import,
    package_zip,
)


def _write(path, text, mtime=1_000_000_000):
    with open(path, "w") as fh:
        fh.write(text)
    os.utime(path, (mtime, mtime))


def _fake_package(root):
    pkg = root / "pkg"
    (pkg / "data").mkdir(parents=True)
    (pkg / "__pycache__").mkdir()
    _write(pkg / "__init__.py", "X = 1\n")
    _write(pkg / "data" / "params.json", '{"a": 1}\n')
    _write(pkg / "__pycache__" / "stale.cpython-311.pyc", "junk")
    return pkg


def test_edit_to_code_or_data_gives_new_zip(tmp_path):
    pkg = _fake_package(tmp_path)
    out = tmp_path / "zips"
    out.mkdir()
    first = package_zip(str(pkg), str(out))
    assert package_zip(str(pkg), str(out)) == first  # unchanged: reused
    with zipfile.ZipFile(first) as zf:
        assert sorted(zf.namelist()) == ["pkg/__init__.py",
                                         "pkg/data/params.json"]

    # same size, same mtime: only the bytes differ
    _write(pkg / "__init__.py", "X = 2\n")
    code_edit = package_zip(str(pkg), str(out))
    assert code_edit != first
    with zipfile.ZipFile(code_edit) as zf:
        assert zf.read("pkg/__init__.py") == b"X = 2\n"

    _write(pkg / "data" / "params.json", '{"a": 2}\n')
    data_edit = package_zip(str(pkg), str(out))
    assert data_edit not in (first, code_edit)
    with zipfile.ZipFile(data_edit) as zf:
        assert zf.read("pkg/data/params.json") == b'{"a": 2}\n'

    # bytecode caches are neither shipped nor part of the key
    _write(pkg / "__pycache__" / "stale.cpython-311.pyc", "other")
    assert package_zip(str(pkg), str(out)) == data_edit


def test_same_content_same_zip_bytes(tmp_path):
    pkg = _fake_package(tmp_path)
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    za = package_zip(str(pkg), str(a))
    os.utime(pkg / "__init__.py", (2_000_000_000, 2_000_000_000))
    zb = package_zip(str(pkg), str(b))
    assert os.path.basename(za) == os.path.basename(zb)
    with open(za, "rb") as fa, open(zb, "rb") as fb:
        assert fa.read() == fb.read()


def test_second_session_on_same_context_ships_once(spark):
    ensure_workers_can_import(spark.newSession())
    before = list(spark.sparkContext.listFiles)
    ensure_workers_can_import(spark.newSession())
    assert list(spark.sparkContext.listFiles) == before
