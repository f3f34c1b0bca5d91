"""Where `__spark_entry__` roots the scratch of entries that build a
persisted index or catalog."""

import os

import __spark_entry__ as entry


def test_query_tmpdir_honours_tmpdir(tmp_path, monkeypatch):
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(entry, "_TMP_ROOT", None)
    d = entry._query_tmpdir("kms_probe_")
    assert os.path.dirname(entry._TMP_ROOT) == str(tmp_path)
    assert os.path.dirname(d) == entry._TMP_ROOT
    assert os.path.isdir(d)


def test_query_tmpdir_falls_back_to_shm(monkeypatch):
    monkeypatch.delenv("TMPDIR", raising=False)
    monkeypatch.setattr(entry, "_TMP_ROOT", None)
    entry._query_tmpdir("kms_probe_")
    expected = "/dev/shm" if os.path.isdir("/dev/shm") else None
    if expected is not None:
        assert os.path.dirname(entry._TMP_ROOT) == expected
