"""Master/shuffle-partition resolution for local vs spark-submit launches.

The production failure mode this guards: ``get_spark()`` calling
``builder.master()`` unconditionally would silently override a
``spark-submit --master spark://...`` launch and run the whole job inside
the driver JVM (local mode) — the cluster would sit idle and the job
would "work", just not scale. ``resolve_master`` must therefore return
None (leave the launcher's value untouched) exactly when the process was
launched by spark-submit and the caller didn't force a master.
"""

import importlib
import os
import sys
import tempfile
import zipfile
import zipimport

import search_engine_spark  # installs the zip re-scan shim
from search_engine_spark.session import driver_memory, resolve_master


def test_plain_python_defaults_to_local_n():
    m, sp = resolve_master(None, under_submit=False, cpus=8,
                           shuffle_partitions=None)
    assert m == "local[8]"
    assert sp == 8


def test_under_submit_leaves_launcher_master_untouched():
    m, sp = resolve_master(None, under_submit=True, cpus=8,
                           shuffle_partitions=None)
    assert m is None  # spark-submit's --master governs
    assert sp is None  # cluster sizes shuffle partitions via --conf


def test_explicit_master_wins_even_under_submit():
    m, sp = resolve_master("local[2]", under_submit=True, cpus=8,
                           shuffle_partitions=None)
    assert m == "local[2]"
    assert sp == 2  # derived from the bracket count, not cpus


def test_local_star_sizes_partitions_from_cpus():
    m, sp = resolve_master("local[*]", under_submit=False, cpus=16,
                           shuffle_partitions=None)
    assert m == "local[*]"
    assert sp == 16


def test_explicit_shuffle_partitions_pass_through():
    m, sp = resolve_master("local[4]", under_submit=False, cpus=32,
                           shuffle_partitions=7)
    assert sp == 7


def test_driver_memory_is_half_the_host_up_to_16g(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    gib = 1 << 30
    assert driver_memory(15 * gib) == "7680m"
    assert driver_memory(32 * gib) == "16384m"
    assert driver_memory(256 * gib) == "16384m"
    # the host's own RAM when none is given
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert driver_memory() == driver_memory(phys)


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert driver_memory(256 << 30) == "2g"
    assert driver_memory(1 << 30) == "2g"


def _write_module_zip(path, value):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("m_zipshim.py", f"VALUE = {value}\n")
    os.replace(tmp, path)  # atomic, like ship_package


def test_zip_shim_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """PySpark workers call importlib.invalidate_caches() on every task;
    an unchanged zip on sys.path must not have its directory re-read,
    and an atomically replaced one must be."""
    z = str(tmp_path / "m.zip")
    _write_module_zip(z, 1)
    monkeypatch.syspath_prepend(z)
    sys.modules.pop("m_zipshim", None)
    m = importlib.import_module("m_zipshim")
    assert m.VALUE == 1
    reads = []
    inner = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return inner(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(5):
        importlib.invalidate_caches()
    assert z not in reads
    shimmed = zipimport.zipimporter.invalidate_caches
    search_engine_spark._install_zip_shim()  # a second install is a no-op
    assert zipimport.zipimporter.invalidate_caches is shimmed
    _write_module_zip(z, 2)
    importlib.invalidate_caches()
    m = importlib.reload(m)
    assert z in reads and m.VALUE == 2
    sys.modules.pop("m_zipshim", None)


def test_package_zip_is_per_checkout_and_rebuilds_when_stale(
    tmp_path, monkeypatch
):
    """Two checkouts of the package on one host (say a parent and a
    change) get two zips, so neither ships the other's code to the
    Python workers; a source newer than its zip still rebuilds it."""
    from search_engine_spark.session import package_zip

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    pkgs = []
    for name, value in (("a", 1), ("b", 2)):
        pkg = tmp_path / name / "search_engine_spark"
        pkg.mkdir(parents=True)
        (pkg / "m.py").write_text(f"VALUE = {value}\n")
        pkgs.append(pkg)
    za, zb = package_zip(pkgs[0]), package_zip(pkgs[1])
    assert za != zb and za.parent == zb.parent == tmp_path / "tmp"

    def shipped(z):
        with zipfile.ZipFile(z) as zf:
            return zf.read("search_engine_spark/m.py").decode()

    assert (shipped(za), shipped(zb)) == ("VALUE = 1\n", "VALUE = 2\n")
    assert package_zip(pkgs[0]) == za and shipped(za) == "VALUE = 1\n"
    src = pkgs[0] / "m.py"
    src.write_text("VALUE = 3\n")
    later = za.stat().st_mtime + 10
    os.utime(src, (later, later))
    assert package_zip(pkgs[0]) == za
    assert shipped(za) == "VALUE = 3\n"
    assert shipped(zb) == "VALUE = 2\n"
