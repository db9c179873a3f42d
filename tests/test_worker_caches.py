"""The OCR stage's end-of-task release of the Python worker's zip import
caches: zipimporters leave the path importer cache, the archive's directory
stays cached, and modules in the archive still import."""

from __future__ import annotations

import sys
import zipfile
import zipimport

from tesseract_recognize_spark.operators.ocr import release_worker_caches


def _zipimporters() -> list:
    return [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
    ]


def test_release_drops_zipimporters_and_imports_still_work(
    tmp_path, monkeypatch
):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("relcache_a.py", "A = 1\n")
        zf.writestr("relcache_b.py", "B = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        import relcache_a

        assert relcache_a.A == 1
        assert _zipimporters()
        release_worker_caches()
        assert not _zipimporters()
        # the archive's directory is still cached: a new finder for it
        # does not re-read the archive
        assert str(archive) in zipimport._zip_directory_cache
        import relcache_b

        assert relcache_b.B == 2
    finally:
        sys.modules.pop("relcache_a", None)
        sys.modules.pop("relcache_b", None)
