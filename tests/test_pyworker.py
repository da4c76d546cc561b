"""The Python worker daemon (``kgeng.pyworker``): the suite's workers
run it, and its zip refresh re-reads an archive only when the archive
changed."""

from __future__ import annotations

import zipfile
import zipimport

from kgeng import pyworker


def test_session_workers_run_the_kgeng_daemon(spark):
    def probe(_):
        import zipimport

        from kgeng import pyworker

        yield zipimport.zipimporter.invalidate_caches is pyworker.invalidate_caches

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect() == [True]


def _write_zip(path: str, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for m in modules:
            zf.writestr(f"{m}.py", f"NAME = {m!r}\n")


def test_zip_is_reread_only_when_rewritten(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    importer = zipimport.zipimporter(archive)

    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p)
    )
    pyworker.invalidate_caches(importer)  # first sight: read, stamp
    assert reads == [archive]

    for _ in range(3):  # unchanged: no re-read, listing kept
        pyworker.invalidate_caches(importer)
    assert reads == [archive]
    assert importer.find_spec("m1") is not None

    _write_zip(archive, ["m1", "m2"])  # rewritten at the same path
    assert importer.find_spec("m2") is None  # the stale listing
    pyworker.invalidate_caches(importer)
    assert reads == [archive, archive]
    assert importer.find_spec("m2") is not None


def test_package_zip_ships_the_daemon(tmp_path):
    # executors of multi-executor masters start the daemon from this zip
    from kgeng.package import build_zip

    with zipfile.ZipFile(build_zip(str(tmp_path / "kgeng.zip"))) as zf:
        assert "kgeng/pyworker.py" in zf.namelist()
