"""The driver JVM's class-data-sharing archive (``session._arm_driver_jvm``).

Each case runs a fresh interpreter with ``XDG_CACHE_HOME`` at a temporary
directory and the environment this process started with, so it trains,
maps or skips an archive of its own. A ``query`` child starts a small
session and reports the JVM's input arguments; an ``import`` child only
imports the package and reports the two variables arming may set. The
child prints one JSON line last: a JVM that logged CDS warnings to stdout
at exit would break it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark
import pytest

from my_polars_ai_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROWS = [[k, len(range(k, 100, 7))] for k in range(7)]

CHILD = """
import json, os, sys
import my_polars_ai_spark
out = {"pid": os.getpid(), "env": {k: os.environ.get(k) for k in ("SPARK_SUBMIT_OPTS", "SPARK_CONF_DIR")}}
if sys.argv[1] == "query":
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "512m").getOrCreate())
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    out["jvm_args"] = list(mx.getInputArguments())
    df = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count().orderBy("k")
    out["rows"] = [list(r) for r in df.collect()]
    out["sum"] = spark.sparkContext.parallelize(range(10), 2).sum()  # a Python-worker job
print(json.dumps(out))
"""


def _env(xdg, **overrides) -> dict[str, str]:
    """This process's starting environment, with the cache at ``xdg``;
    an override of None unsets the variable."""
    env = dict(os.environ)
    for k, v in {**session._ENV_BEFORE_ARMING, "XDG_CACHE_HOME": str(xdg), **overrides}.items():
        if v is None:
            env.pop(k, None)
        else:
            env[k] = v
    return env


def _run(xdg, query: bool = True, **overrides) -> dict:
    r = subprocess.run(
        [sys.executable, "-c", CHILD, "query" if query else "import"],
        cwd=ROOT, env=_env(xdg, **overrides), capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-3000:]
    return {**json.loads(r.stdout.splitlines()[-1]), "stderr": r.stderr}


def _files(xdg) -> list[str]:
    """Archives, temp files and locks in the cache (not its conf dir)."""
    cache = os.path.join(str(xdg), "my_polars_ai_spark")
    return sorted(n for n in os.listdir(cache) if n != "conf") if os.path.isdir(cache) else []


def _cds_args(out: dict) -> list[str]:
    return [a for a in out["jvm_args"] if any(f in a for f in session._CDS_FLAGS)]


def _untouched(xdg, **overrides) -> dict[str, str | None]:
    env = _env(xdg, **overrides)
    return {k: env.get(k) for k in ("SPARK_SUBMIT_OPTS", "SPARK_CONF_DIR")}


@pytest.fixture(scope="module")
def trained(tmp_path_factory):
    xdg = tmp_path_factory.mktemp("cds")
    return xdg, _run(xdg)


def test_first_process_trains_exactly_one_archive(trained):
    xdg, out = trained
    cache, key = session._cds_key(_env(xdg))
    assert _files(xdg) == [f"{key}.jsa"]
    assert _cds_args(out) == [f"-XX:ArchiveClassesAtExit={cache}/{key}.{out['pid']}.tmp"]
    assert out["env"]["SPARK_CONF_DIR"] == os.path.join(cache, "conf")
    assert os.listdir(os.path.join(cache, "conf")) == []
    assert out["rows"] == ROWS and out["sum"] == 45
    # The JVM ends while Python is still up; nothing may trace back then.
    assert "Traceback" not in out["stderr"], out["stderr"][-3000:]


def test_second_process_maps_the_archive(trained):
    xdg, first = trained
    cache, key = session._cds_key(_env(xdg))
    out = _run(xdg)
    assert _cds_args(out) == [f"-XX:SharedArchiveFile={cache}/{key}.jsa"]
    assert out["rows"] == first["rows"] == ROWS
    assert _files(xdg) == [f"{key}.jsa"]


def test_garbage_archive_still_starts_and_answers(tmp_path):
    cache, key = session._cds_key(_env(tmp_path))
    archive = os.path.join(cache, f"{key}.jsa")
    with open(archive, "wb") as f:
        f.write(os.urandom(10 << 20))
    out = _run(tmp_path)
    assert _cds_args(out) == [f"-XX:SharedArchiveFile={archive}"]
    assert out["rows"] == ROWS


def test_xshare_off_opts_out(tmp_path):
    opts = " ".join(filter(None, (_env(tmp_path).get("SPARK_SUBMIT_OPTS"), "-Xshare:off")))
    out = _run(tmp_path, SPARK_SUBMIT_OPTS=opts)
    assert out["env"] == _untouched(tmp_path, SPARK_SUBMIT_OPTS=opts)
    assert _cds_args(out) == ["-Xshare:off"]
    assert not any(a.startswith("-Xlog:cds") for a in out["jvm_args"])
    assert out["rows"] == ROWS
    assert _files(tmp_path) == []


def test_live_lock_starts_without_training(tmp_path):
    cache, key = session._cds_key(_env(tmp_path))
    lock = os.path.join(cache, f"{key}.lock")
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    out = _run(tmp_path)
    assert out["env"] == _untouched(tmp_path)
    assert _cds_args(out) == []
    assert out["rows"] == ROWS
    assert _files(tmp_path) == [f"{key}.lock"]
    with open(lock) as f:
        assert f.read() == str(os.getpid())


def test_stale_lock_is_replaced_and_released(tmp_path):
    cache, key = session._cds_key(_env(tmp_path))
    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"], capture_output=True, text=True)
    with open(os.path.join(cache, f"{key}.lock"), "w") as f:
        f.write(dead.stdout.strip())
    out = _run(tmp_path, query=False)
    assert out["env"]["SPARK_SUBMIT_OPTS"].endswith(f"-XX:ArchiveClassesAtExit={cache}/{key}.{out['pid']}.tmp")
    # No JVM was started, so there is nothing to keep; the lock is released.
    assert _files(tmp_path) == []


def _fake_spark_home(root, conf_file: str) -> str:
    home = os.path.join(str(root), "spark")
    os.makedirs(os.path.join(home, "conf"))
    os.symlink(os.path.join(os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__), "jars"),
               os.path.join(home, "jars"))
    open(os.path.join(home, "conf", conf_file), "w").close()
    return home


def _old_jdk(root) -> str:
    home = os.path.join(str(root), "jdk")
    os.makedirs(os.path.join(home, "bin"))
    open(os.path.join(home, "bin", "java"), "w").close()
    with open(os.path.join(home, "release"), "w") as f:
        f.write('JAVA_VERSION="11.0.2"\n')
    return home


PRECONDITIONS = {
    "spark_conf_dir_set": lambda tmp: {"SPARK_CONF_DIR": str(tmp)},
    "real_conf_file": lambda tmp: {"SPARK_HOME": _fake_spark_home(tmp, "spark-defaults.conf")},
    "hadoop_conf_dir_set": lambda tmp: {"HADOOP_CONF_DIR": str(tmp)},
    "yarn_conf_dir_set": lambda tmp: {"YARN_CONF_DIR": str(tmp)},
    "spark_connect": lambda tmp: {"SPARK_REMOTE": "sc://localhost"},
    "gateway_port_set": lambda tmp: {"PYSPARK_GATEWAY_PORT": "1", "PYSPARK_GATEWAY_SECRET": "x"},
    "opts_name_shared_archive": lambda tmp: {"SPARK_SUBMIT_OPTS": "-XX:SharedArchiveFile=/x.jsa"},
    "opts_name_archive_at_exit": lambda tmp: {"SPARK_SUBMIT_OPTS": "-XX:ArchiveClassesAtExit=/x.jsa"},
    "opts_name_dump_info": lambda tmp: {"SPARK_SUBMIT_OPTS": "-XX:+RecordDynamicDumpInfo"},
    "jdk_before_13": lambda tmp: {"JAVA_HOME": _old_jdk(tmp)},
    "cache_not_a_directory": lambda tmp: {"XDG_CACHE_HOME": str(tmp / "file")},
    "whitespace_in_cache_path": lambda tmp: {"XDG_CACHE_HOME": str(tmp / "a b")},
}


@pytest.mark.parametrize("case", sorted(PRECONDITIONS))
def test_failed_precondition_leaves_environment_alone(tmp_path, case):
    (tmp_path / "file").write_text("")
    overrides = PRECONDITIONS[case](tmp_path)
    xdg = overrides.pop("XDG_CACHE_HOME", tmp_path)
    out = _run(xdg, query=False, **overrides)
    assert out["env"] == _untouched(xdg, **overrides)
    assert _files(xdg) == []


def test_templates_only_conf_arms(tmp_path):
    """The control for ``real_conf_file``: the same fake home with only a
    template does arm."""
    home = _fake_spark_home(tmp_path, "spark-defaults.conf.template")
    out = _run(tmp_path, query=False, SPARK_HOME=home)
    cache, key = session._cds_key(_env(tmp_path, SPARK_HOME=home))
    assert out["env"] == {
        "SPARK_SUBMIT_OPTS": " ".join(filter(None, (
            _env(tmp_path).get("SPARK_SUBMIT_OPTS"), session._CDS_LOG,
            f"-XX:ArchiveClassesAtExit={cache}/{key}.{out['pid']}.tmp",
        ))),
        "SPARK_CONF_DIR": os.path.join(cache, "conf"),
    }
    assert _files(tmp_path) == []


def test_import_after_gateway_is_up_leaves_environment_alone(spark, tmp_path, monkeypatch):
    for k, v in {**session._ENV_BEFORE_ARMING, "XDG_CACHE_HOME": str(tmp_path)}.items():
        if v is None:
            monkeypatch.delenv(k, raising=False)
        else:
            monkeypatch.setenv(k, v)
    assert session._cds_key(os.environ) is not None  # only the live gateway stands in the way
    before = dict(os.environ)
    session._arm_driver_jvm()
    assert dict(os.environ) == before
    assert _files(tmp_path) == []
