"""Staging rules that need no Spark job: fixture dirs are built once and
a failed build leaves nothing; the reaper removes only dead owners'
pid-scoped entries, in the temp dir and in the warehouse dir."""

import os
import shutil
import subprocess
import tempfile

import pytest

from spark_lineage_spark import staging

DEAD_PID = 2**22 + 1  # above the default pid_max, so never running


def test_fixture_dir_builds_once_and_drops_failed_builds(tmp_path):
    src = tmp_path / "t.parquet"
    src.write_bytes(b"x")
    calls = []

    def build(d):
        calls.append(d)
        open(os.path.join(d, "f"), "w").close()

    d = staging.fixture_dir(str(src), "stagingtest", build)
    try:
        assert staging.fixture_dir(str(src), "stagingtest", build) == d
        assert len(calls) == 1 and set(os.listdir(d)) == {"_DONE", "f"}

        def broken(d):
            raise RuntimeError("build failed")

        with pytest.raises(RuntimeError):
            staging.fixture_dir(str(src), "stagingtest_broken", broken)
        mine = f"sls_fixture_{os.getpid()}_"
        assert not [n for n in os.listdir(tempfile.gettempdir()) if n.startswith(mine)]
    finally:
        shutil.rmtree(d, ignore_errors=True)


class _Conf:
    def __init__(self, warehouse):
        self.warehouse = warehouse

    def get(self, key):
        assert key == "spark.sql.warehouse.dir"
        return self.warehouse


class _Session:
    """The two calls scratch_table makes: the warehouse conf and DROP TABLE."""

    def __init__(self, warehouse):
        self.conf = _Conf(warehouse)

    def sql(self, text):
        assert text.startswith("DROP TABLE IF EXISTS ")


def test_reaper_removes_only_dead_owners(tmp_path):
    child = subprocess.Popen(["sleep", "60"])
    base = tempfile.gettempdir()
    wh = tmp_path / "warehouse"
    wh.mkdir()
    try:
        dead_file = os.path.join(base, f"sls_roundtrip_{DEAD_PID}_probe.csv")
        open(dead_file, "w").close()
        live_dir = tempfile.mkdtemp(prefix=f"sls_stream_{child.pid}_")
        fixture = tempfile.mkdtemp(prefix="sls_stream_src_")
        tables = {
            "dead": f"sls_sdsh_idx_0a1b2c3d_{DEAD_PID}",
            "live": f"sls_b_orders_0a1b2c3d_{child.pid}",
            "unpidded": "sls_test_orders_b",
        }
        for t in tables.values():
            (wh / t).mkdir()

        name = staging.scratch_table(_Session(str(wh)), "nation_tbl", "sf")

        assert name == staging.table_name("nation_tbl", "sf")
        assert not os.path.exists(dead_file)
        assert os.path.isdir(live_dir) and os.path.isdir(fixture)
        assert sorted(os.listdir(wh)) == sorted([tables["live"], tables["unpidded"]])
        for d in (live_dir, fixture):
            os.rmdir(d)
    finally:
        child.kill()
        child.wait()


def test_scratch_rejects_unknown_tags():
    with pytest.raises(ValueError):
        staging.scratch_dir("nosuchtag")
