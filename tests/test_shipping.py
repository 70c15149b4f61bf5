"""Package shipping and the worker-side lazy zipimport invalidation."""

import importlib
import os
import pkgutil
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from statefulstreamprocessor_spark import shipping

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE = "_ssp_zip_probe_mod"

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 is already lazy"
)


class _InWorker:
    """Stand-in for an active TaskContext."""

    @staticmethod
    def get():
        return object()


def _write_probe_zip(path, version, pad=b""):
    with zipfile.ZipFile(path, "w") as z:
        if pad:  # shifts every later member's offset
            z.writestr("pad.txt", pad)
        z.writestr(f"{PROBE}.py", f"VERSION = {version!r}\n")


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    """A zip holding one module, on sys.path; importer state restored."""
    path = str(tmp_path / "probe.zip")
    _write_probe_zip(path, "v1")
    monkeypatch.syspath_prepend(path)
    monkeypatch.delitem(sys.modules, PROBE, raising=False)
    # restored at teardown, after a test installs the lazy form
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(
        zipimport, "_zip_directory_cache", zipimport._zip_directory_cache
    )
    yield path
    monkeypatch.undo()
    if "_files" in vars(zipimport.zipimporter):
        del zipimport.zipimporter._files
    sys.modules.pop(PROBE, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _install_in_fake_worker(monkeypatch):
    monkeypatch.setattr(shipping, "TaskContext", _InWorker)
    shipping.install_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is shipping._invalidate_zip_cache


@pytest.mark.parametrize("lazy", [False, True], ids=["cpython", "lazy"])
def test_rewritten_zip_is_reimported(probe_zip, monkeypatch, lazy):
    if lazy:
        if sys.version_info >= (3, 12):
            pytest.skip("CPython >= 3.12 is already lazy")
        _install_in_fake_worker(monkeypatch)
    assert importlib.import_module(PROBE).VERSION == "v1"
    # v2 moves the module to a new offset: a stale directory cannot read it
    _write_probe_zip(probe_zip, "v2", pad=b"x" * 4096)
    importlib.invalidate_caches()
    # pkgutil reads zipimport's directory cache directly
    assert [m.name for m in pkgutil.iter_modules([probe_zip])] == [PROBE]
    del sys.modules[PROBE]
    assert importlib.import_module(PROBE).VERSION == "v2"


@needs_eager_zipimport
def test_lazy_invalidation_defers_directory_read(probe_zip, monkeypatch):
    importlib.import_module(PROBE)
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or real_read(a)
    )
    importlib.invalidate_caches()
    assert probe_zip in reads  # control: CPython 3.11 re-reads eagerly
    reads.clear()
    _install_in_fake_worker(monkeypatch)
    importlib.invalidate_caches()
    assert reads == []
    # the next lookup reads the directory once
    del sys.modules[PROBE]
    importlib.import_module(PROBE)
    assert reads == [probe_zip]


def _run_python(code):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=REPO,
        capture_output=True, text=True, timeout=120, check=True,
    )
    return out.stdout.strip()


def test_driver_import_leaves_zipimport_alone():
    out = _run_python(
        "import zipimport\n"
        "before = zipimport.zipimporter.invalidate_caches\n"
        "import statefulstreamprocessor_spark\n"
        "print(zipimport.zipimporter.invalidate_caches is before,\n"
        "      '_files' in vars(zipimport.zipimporter))\n"
    )
    assert out == "True False"


def test_package_zip_removed_at_exit():
    out = _run_python(
        "import os\n"
        "from statefulstreamprocessor_spark.shipping import build_package_zip\n"
        "p = build_package_zip()\n"
        "print(os.path.getsize(p) > 0, p)\n"
    )
    ok, path = out.split(" ", 1)
    assert ok == "True"
    assert not os.path.exists(path)


@needs_eager_zipimport
def test_reused_worker_invalidation_is_cheap(spark):
    shipping.ensure_package_shipped(spark)

    # nested, so cloudpickle ships it by value; unpickling its default
    # imports the package in the worker, as any engine UDF does
    def probe(batches, _engine=shipping):
        import importlib
        import time
        import zipimport

        for _ in batches:
            pass
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1e3
        active = zipimport.zipimporter.invalidate_caches is _engine._invalidate_zip_cache
        yield pd.DataFrame({"active": [active], "ms": [ms]})

    df = spark.range(1, numPartitions=1)
    schema = "active boolean, ms double"
    df.mapInPandas(probe, schema).collect()
    second = df.mapInPandas(probe, schema).collect()[0]
    assert second.active
    assert second.ms < 5, f"invalidate_caches took {second.ms:.1f} ms"
