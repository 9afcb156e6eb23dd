"""The shipped package zip must be content-addressed (r12).

A fixed /tmp path raced between concurrent sessions from different
source trees: the second process rewrote the zip in place and the
first's executors failed Spark's fetch consistency check. The zip name
now embeds a hash of its bytes, so different trees get different
files and identical trees re-land identical bytes atomically.
"""

import os
import stat
import zipfile

import citus_spark
from citus_spark.queries import _write_pkg_zip

PKG = os.path.dirname(os.path.abspath(citus_spark.__file__))


def test_zip_name_embeds_content_hash():
    p = _write_pkg_zip(PKG)
    base = os.path.basename(p)
    assert base.startswith("citus_spark_pkg_") and base.endswith(".zip")
    digest = base[len("citus_spark_pkg_"):-len(".zip")]
    assert len(digest) == 12
    import hashlib

    with open(p, "rb") as fh:
        assert hashlib.sha256(fh.read()).hexdigest()[:12] == digest


def test_zip_is_deterministic_and_complete():
    p1 = _write_pkg_zip(PKG)
    p2 = _write_pkg_zip(PKG)
    assert p1 == p2  # same tree -> same bytes -> same name
    names = zipfile.ZipFile(p1).namelist()
    assert any(n.endswith("citus_spark/queries/__init__.py") for n in names)
    assert any(n.endswith("citus_spark/session.py") for n in names)
    assert not any("__pycache__" in n for n in names)
    # world-readable so other sessions landing on the same digest (and
    # cluster executors) can fetch it
    assert stat.S_IMODE(os.stat(p1).st_mode) == 0o644


def test_planted_zip_with_wrong_bytes_is_not_shipped(tmp_path, monkeypatch):
    """A file under the right content-addressed name but with other
    bytes (a shared /tmp lets anyone plant one) is never reused: the
    genuine zip lands in a per-user 0700 directory instead."""
    import hashlib
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    genuine = _write_pkg_zip(PKG)
    with open(genuine, "rb") as fh:
        want = fh.read()
    with open(genuine, "wb") as fh:
        fh.write(b"not the package")

    shipped = _write_pkg_zip(PKG)
    assert shipped != genuine
    assert os.path.basename(shipped) == os.path.basename(genuine)
    with open(shipped, "rb") as fh:
        assert fh.read() == want
    assert hashlib.sha256(want).hexdigest()[:12] in shipped
    private = os.path.dirname(shipped)
    assert stat.S_IMODE(os.stat(private).st_mode) == 0o700


def test_reused_zip_mtime_is_refreshed(tmp_path, monkeypatch):
    """Reusing a zip refreshes its mtime, so the 7-day sweep of another
    process cannot delete it from under a live session."""
    import tempfile
    import time

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    p = _write_pkg_zip(PKG)
    old = time.time() - 30 * 86400
    os.utime(p, (old, old))
    assert _write_pkg_zip(PKG) == p
    assert os.path.getmtime(p) > time.time() - 3600
