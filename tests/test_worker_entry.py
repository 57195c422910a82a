"""The engine's Python worker entry (pyspark_rasterstats_worker).

A zipimporter must skip re-reading an unchanged archive and re-read a
changed one; every Python task of a `get_spark` session must run through
the entry; modules shipped by `addPyFile` after a task has run must still
import; and the --py-files zip must carry the entry.
"""

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pandas as pd

import pyspark_rasterstats_worker as entry
from python_rasterstats_spark.session import WORKER_ENTRY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


def test_zipimporter_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    first, second = f"prs_zip_a_{tag}", f"prs_zip_b_{tag}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {f"{first}.py": "VALUE = 1\n"})

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    assert zipimport.zipimporter.invalidate_caches is entry._invalidate_caches
    assert importlib.import_module(first).VALUE == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)
    built = len(reads)  # the importer's own first read

    importer.invalidate_caches()
    importer.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) - built == 1

    _write_zip(archive, {f"{first}.py": "VALUE = 1\n",
                         f"{second}.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) - built == 2
    assert importlib.import_module(second).VALUE == 2
    importlib.invalidate_caches()
    assert len(reads) - built == 2

    os.remove(archive)  # an archive that cannot be stat'ed is always re-read
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(reads) - built == 4
    assert importer._files == {}
    for name in (first, second):
        sys.modules.pop(name, None)


def test_python_tasks_run_through_the_entry(spark):
    assert spark.conf.get("spark.python.worker.module") == WORKER_ENTRY

    def probe(batches):
        import sys as _sys
        import zipimport as _zipimport

        mod = _sys.modules.get(WORKER_ENTRY)
        patched = (mod is not None and _zipimport.zipimporter.invalidate_caches
                   is mod._invalidate_caches)
        for _ in batches:
            pass
        yield pd.DataFrame({"loaded": [mod is not None],
                            "patched": [patched]})

    rows = (spark.range(0, 64, numPartitions=4)
            .mapInPandas(probe, "loaded boolean, patched boolean").collect())
    assert len(rows) == 4
    assert all(r["loaded"] and r["patched"] for r in rows)


def test_add_py_file_after_a_task_still_imports(spark, tmp_path):
    sc = spark.sparkContext
    assert spark.range(0, 8, numPartitions=2).mapInPandas(
        lambda it: it, "id long").count() == 8

    tag = uuid.uuid4().hex[:8]
    py_mod, zip_mod = f"prs_addpy_{tag}", f"prs_addzip_{tag}"
    py_path = tmp_path / f"{py_mod}.py"
    py_path.write_text("VALUE = 11\n")
    zip_path = str(tmp_path / f"{zip_mod}.zip")
    _write_zip(zip_path, {f"{zip_mod}.py": "VALUE = 31\n"})
    sc.addPyFile(str(py_path))
    sc.addPyFile(zip_path)

    def both(batches):
        import importlib as _importlib

        a = _importlib.import_module(py_mod).VALUE
        b = _importlib.import_module(zip_mod).VALUE
        for pdf in batches:
            yield pd.DataFrame({"v": [a + b] * len(pdf)})

    try:
        got = {r["v"] for r in spark.range(0, 16, numPartitions=4)
               .mapInPandas(both, "v long").collect()}
    finally:
        for name in (py_mod, zip_mod):
            sys.modules.pop(name, None)
    assert got == {42}


def test_pyfiles_zip_carries_the_entry(tmp_path):
    out = str(tmp_path / "prs.zip")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py"), out],
        check=True, capture_output=True,
    )
    with zipfile.ZipFile(out) as zf:
        names = set(zf.namelist())
    assert f"{WORKER_ENTRY}.py" in names
    assert "python_rasterstats_spark/__init__.py" in names
    assert "python_rasterstats_spark/session.py" in names
    assert not any("__pycache__" in n for n in names)


def test_entry_chosen_only_for_a_local_plain_file(monkeypatch, tmp_path):
    from python_rasterstats_spark import session

    monkeypatch.chdir(REPO)
    monkeypatch.delenv("PYTHONSAFEPATH", raising=False)
    assert session._worker_entry_usable("local[2]")
    assert not session._worker_entry_usable("spark://host:7077")
    assert not session._worker_entry_usable("yarn")

    # the daemon searches none of the entry's directories
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert not session._worker_entry_usable("local[2]")

    # resolved from a zip, as in a py-files-only submit
    archive = str(tmp_path / "prs.zip")
    _write_zip(archive, {f"{WORKER_ENTRY}.py": "main = None\n"})
    spec = zipimport.zipimporter(archive).find_spec(WORKER_ENTRY)
    assert spec is not None
    monkeypatch.setattr(session.importlib.util, "find_spec",
                        lambda name: spec)
    monkeypatch.setenv("PYTHONPATH", archive)
    assert not session._worker_entry_usable("local[2]")
