"""Session factory and Python worker daemon (dampr_spark.session,
dampr_spark.workerd)."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from dampr_spark import workerd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_first": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", workerd.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_first").X == 1
        importer = sys.path_importer_cache[archive]
        importer.invalidate_caches()  # the first call reads and stamps

        reads = []
        read_directory = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importer.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"wd_first": "X = 1\n", "wd_second": "Y = 2\n"})
        importer.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("wd_second").Y == 2
    finally:
        for name in ("wd_first", "wd_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_workers_run_the_daemon_wrapper(spark):
    def probe(_):
        import zipimport

        from dampr_spark import workerd

        return zipimport.zipimporter.invalidate_caches is workerd.invalidate_caches

    assert spark.sparkContext.parallelize([0], 1).map(probe).collect() == [True]


def test_python_tasks_run_from_another_working_directory(tmp_path):
    # The driver finds dampr_spark through sys.path, not PYTHONPATH, so the
    # workers can only import the daemon through the session's own setting.
    script = (
        f"import sys; sys.path.insert(0, {REPO_ROOT!r})\n"
        "from dampr_spark.session import get_spark\n"
        "spark = get_spark(app_name='cwd-probe', cpus=1)\n"
        "print(spark.sparkContext.parallelize([1, 2, 3], 2).map(lambda x: x * 10).collect())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[10, 20, 30]"
