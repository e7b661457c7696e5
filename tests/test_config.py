"""Package shipping: the worker zip is named by its content, so sessions
started from different checkouts never overwrite each other's code."""

from __future__ import annotations

import tempfile
import zipfile

from agentic_doc_spark.config import _package_zip


def _tree(root, body: bytes):
    (root / "sub").mkdir(parents=True)
    (root / "__init__.py").write_bytes(b"")
    (root / "sub" / "mod.py").write_bytes(body)
    return root


def test_package_zip_is_content_addressed(tmp_path, monkeypatch):
    out = tmp_path / "out"
    out.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(out))
    a = _tree(tmp_path / "a", b"X = 1\n")
    b = _tree(tmp_path / "b", b"X = 2\n")  # one byte differs

    za, zb = _package_zip(a), _package_zip(b)
    assert za != zb
    assert za.parent == zb.parent == out
    for z, body in ((za, b"X = 1\n"), (zb, b"X = 2\n")):
        with zipfile.ZipFile(z) as zf:
            assert sorted(zf.namelist()) == [
                "agentic_doc_spark/__init__.py",
                "agentic_doc_spark/sub/mod.py",
            ]
            assert zf.read("agentic_doc_spark/sub/mod.py") == body

    # same content → same zip, reused in place; no temp files left behind
    mtime = za.stat().st_mtime_ns
    assert _package_zip(a) == za
    assert za.stat().st_mtime_ns == mtime
    assert sorted(p.name for p in out.iterdir()) == sorted([za.name, zb.name])
