"""The zip-directory refresh hook of ``kaskada_spark._worker``.

The Spark-free tests run in a subprocess each, so the pytest process's
``zipimporter`` is never patched. A task context is faked with
``TaskContext._setTaskContext`` where a test needs the hook to act.
"""

import subprocess
import sys
import textwrap

import pandas as pd
import pytest

needs_311 = pytest.mark.skipif(sys.version_info >= (3, 12),
                               reason="the hook acts only on CPython < 3.12")

# a zip holding package ``zpkg`` on sys.path, ``zpkg.a`` imported from it:
# two importers (the archive and ``zpkg/``) share one directory; ``reads``
# records the zipimport._read_directory calls
PRELUDE = textwrap.dedent("""
    import importlib, os, sys, zipfile, zipimport

    def fake_task():
        from pyspark import TaskContext
        TaskContext._setTaskContext(TaskContext())

    def make_zip():
        path = os.path.join(sys.argv[1], "mods.zip")
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr("zpkg/__init__.py", "")
            zf.writestr("zpkg/a.py", "A = 1\\n")
        sys.path.insert(0, path)
        import zpkg.a
        assert zpkg.a.A == 1
        del reads[:]
        return path

    reads = []  # archives read since make_zip() returned
    _read = zipimport._read_directory
    def _counted(archive):
        reads.append(archive)
        return _read(archive)
    zipimport._read_directory = _counted

    def hooked():
        from kaskada_spark import _worker
        return zipimport.zipimporter.invalidate_caches is _worker._invalidate_caches
""")


def _run(body: str, tmp_path) -> None:
    out = subprocess.run([sys.executable, "-c", PRELUDE + textwrap.dedent(body), str(tmp_path)],
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-3000:]


@needs_311
def test_unchanged_zip_is_not_reread(tmp_path):
    _run("""
        z = make_zip()
        fake_task()
        import kaskada_spark  # install() reads the archive once, for both importers
        assert hooked()
        assert reads.count(z) == 1, reads
        del reads[:]
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(z) == 0, reads
    """, tmp_path)


@needs_311
def test_rewritten_zip_is_reread_once_and_new_module_imports(tmp_path):
    _run("""
        fake_task()
        import kaskada_spark
        z = make_zip()
        importlib.invalidate_caches()
        with zipfile.ZipFile(z, "a") as zf:
            zf.writestr("zpkg/b.py", "B = 2\\n")
        del reads[:]
        importlib.invalidate_caches()
        assert reads.count(z) == 1, reads
        import zpkg.b
        assert zpkg.b.B == 2
        importlib.invalidate_caches()
        assert reads.count(z) == 1, reads
    """, tmp_path)


def test_install_is_noop_without_task_context(tmp_path):
    _run("""
        import kaskada_spark
        from kaskada_spark import _worker
        _worker.install()
        assert not hooked()
        z = make_zip()
        importlib.invalidate_caches()
        assert reads.count(z) == 2, reads  # one per importer: the stock path
    """, tmp_path)


@needs_311
def test_second_install_adds_no_wrapper(tmp_path):
    _run("""
        fake_task()
        from kaskada_spark import _worker
        _worker.install()
        _worker.install()
        assert hooked()
        assert _worker._original is not _worker._invalidate_caches
        assert _worker._original.__qualname__ == "zipimporter.invalidate_caches"
    """, tmp_path)


def test_reused_worker_keeps_hook(spark):
    """A mapInPandas function that refers to kaskada_spark imports the
    package when its task unpickles it; the next task of the worker
    starts with the hook installed and re-reads no archive."""
    from kaskada_spark import _worker

    def probe(batches):
        import importlib
        import zipimport

        for _ in batches:
            pass
        hooked = zipimport.zipimporter.invalidate_caches is _worker._invalidate_caches
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pd.DataFrame({"hooked": [hooked], "reads": [len(reads)]})

    df = spark.range(1, numPartitions=1)
    runs = [df.mapInPandas(probe, "hooked boolean, reads long").collect()[0] for _ in range(2)]
    hook_expected = sys.version_info < (3, 12)
    assert runs[1]["hooked"] is hook_expected
    if hook_expected:
        assert runs[1]["reads"] == 0
