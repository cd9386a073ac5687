"""The PySpark-worker ``zipimport`` hook (``session.reuse_worker_zip_directories``):
active in every worker that ran a lakeshack kernel, inert in the driver,
and import-equivalent to the stock method when an archive changes."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipimport

import pyarrow as pa
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# reuse_worker_zip_directories acts only before Python 3.13, whose
# zipimporter reads its directory lazily and has no ``_files``.
before_lazy_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimport reads its directory lazily from Python 3.13 on",
)


@before_lazy_zipimport
def test_worker_hook_active_after_kernel_stage(spark):
    """A stage running the text-signal kernel imports the package in its
    workers; a later probe stage lands on those same reused workers and
    finds the hook installed. The kernel stage has 4x defaultParallelism
    tasks, so every idle worker of the Arrow pool runs one. Both stage
    functions are closures (pickled by value); the probe references no
    lakeshack module, so it cannot install the hook itself."""
    dp = spark.sparkContext.defaultParallelism
    docs = spark.createDataFrame(
        [(i, f"word{i % 7} alpha beta gamma") for i in range(16 * dp)],
        "id long, text string",
    ).repartition(4 * dp)

    def kernel_pids(batches):
        from lakeshack_spark.operators import text

        for b in batches:
            rows = [text._doc_signal_row(t, ()) for t in b.column("text").to_pylist()]
            yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "n": [len(rows)]})

    def probe(batches):
        import zipimport

        method = zipimport.zipimporter.__dict__["invalidate_caches"]
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [os.getpid()],
                "active": [method.__module__ == "lakeshack_spark.session"],
            }
        )

    kernel = docs.mapInArrow(kernel_pids, "pid long, n long").collect()
    assert sum(r.n for r in kernel) == 16 * dp
    probes = (
        spark.range(0, dp, numPartitions=dp)
        .mapInArrow(probe, "pid long, active boolean")
        .collect()
    )
    assert len(probes) == dp
    assert all(r.active for r in probes), probes
    assert {r.pid for r in probes} <= {r.pid for r in kernel}
    # The driver process keeps the stock method.
    assert zipimport.zipimporter.__dict__["invalidate_caches"].__module__ == "zipimport"


_SEMANTICS = textwrap.dedent(
    """
    import importlib, os, sys, tempfile, zipfile, zipimport
    import lakeshack_spark.session as session

    assert zipimport.zipimporter.__dict__["invalidate_caches"].__module__ == "zipimport"

    def scenario(tag, method):
        zipimport.zipimporter.invalidate_caches = method
        archive = os.path.join(tempfile.mkdtemp(), tag + ".zip")
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(tag + "_mod.py", "X = 1\\n")
            z.writestr(tag + "_pkg/__init__.py", "")
            z.writestr(tag + "_pkg/a.py", "A = 1\\n")
        sys.path.insert(0, archive)
        importlib.import_module(tag + "_mod")
        importlib.import_module(tag + "_pkg.a")
        importers = [
            imp for key, imp in sys.path_importer_cache.items()
            if key.startswith(archive) and isinstance(imp, zipimport.zipimporter)
        ]
        assert len(importers) == 2, importers
        importlib.invalidate_caches()
        before = [imp._files for imp in importers]
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        kept = all(imp._files is f for imp, f in zip(importers, before))
        with zipfile.ZipFile(archive, "a") as z:
            z.writestr(tag + "_new.py", "Y = 2\\n")
            z.writestr(tag + "_pkg/b.py", "B = 2\\n")
        importlib.invalidate_caches()
        y = importlib.import_module(tag + "_new").Y
        b = importlib.import_module(tag + "_pkg.b").B
        os.remove(archive)
        importlib.invalidate_caches()
        gone = all(imp._files == {} for imp in importers)
        return kept, y, b, gone

    stock = zipimport.zipimporter.invalidate_caches
    print(scenario("stock", stock))
    print(scenario("hook", session._invalidate_zip_if_changed))
    """
)


@before_lazy_zipimport
def test_hook_rereads_only_changed_archives():
    """In a fresh interpreter (this process's ``zipimport`` stays stock):
    on an unchanged archive the hook keeps each importer's directory
    object across ``importlib.invalidate_caches()``, where the stock method
    rebuilds it; after a module and a package submodule are appended, both
    import, as with the stock method; a vanished archive empties the
    directory, as with the stock method."""
    out = subprocess.run(
        [sys.executable, "-c", _SEMANTICS],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    stock, hook = out.stdout.split("\n")[:2]
    assert stock == "(False, 2, 2, True)"
    assert hook == "(True, 2, 2, True)"
    assert zipimport.zipimporter.__dict__["invalidate_caches"].__module__ == "zipimport"
