"""The driver JVM's class-data-sharing archive (session.py, "Class-data
sharing"): the first JVM dumps it, only a clean exit publishes it, the
next JVM maps it, and a classpath or cache that cannot hold one starts
the JVM without any CDS flag."""

import json
import os
import subprocess
import sys

from stock_data_warehouse_spark.session import (_DEFAULTS, JIT_FLAGS,
                                               _add_cds_flags,
                                               _publish_archive,
                                               _sweep_parts)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Started in a fresh interpreter, so that its session launches a JVM.
_PROBE = """
import json
from stock_data_warehouse_spark.session import get_spark
spark = get_spark("cds-probe", master="local[1]")
mgmt = spark.sparkContext._jvm.java.lang.management
print(json.dumps(list(mgmt.ManagementFactory.getRuntimeMXBean()
                      .getInputArguments())))
spark.stop()
"""


def _start(cache_home) -> list[str]:
    """The input arguments of a fresh interpreter's driver JVM, with the
    cache under ``cache_home`` and ``SPARK_CONF_DIR`` unset."""
    env = dict(os.environ, XDG_CACHE_HOME=str(cache_home))
    env.pop("SPARK_CONF_DIR", None)
    out = subprocess.run([sys.executable, "-c", _PROBE], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=300,
                         check=True).stdout
    assert "[cds" not in out, out
    return json.loads(out.strip().splitlines()[-1])


def test_first_start_publishes_the_archive_and_the_next_maps_it(tmp_path):
    cache = tmp_path / "stock_data_warehouse_spark" / "cds"
    first = _start(tmp_path)
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in first)
    archives = sorted(p.name for p in cache.iterdir() if p.is_file())
    assert len(archives) == 1 and archives[0].endswith(".jsa"), archives
    second = _start(tmp_path)
    assert f"-XX:SharedArchiveFile={cache / archives[0]}" in second, second
    assert all(f in second for f in JIT_FLAGS), second
    assert sorted(p.name for p in cache.iterdir() if p.is_file()) == archives


def _gateway_stand_in(code: int) -> subprocess.Popen:
    """A process that, like the gateway JVM, runs until its stdin closes,
    then exits with ``code``."""
    script = f"import sys; sys.stdin.read(); sys.exit({code})"
    return subprocess.Popen([sys.executable, "-c", script],
                            stdin=subprocess.PIPE)


def test_only_a_clean_exit_publishes_and_dead_parts_are_swept(tmp_path):
    me = os.getpid()
    part, jsa = tmp_path / f"k.{me}.part", tmp_path / "k.jsa"
    part.write_bytes(b"truncated")
    _publish_archive(_gateway_stand_in(3), str(part), me)
    assert not part.exists() and not jsa.exists()
    part.write_bytes(b"whole")
    _publish_archive(_gateway_stand_in(0), str(part), me)
    assert not part.exists() and jsa.read_bytes() == b"whole"

    gone = subprocess.Popen([sys.executable, "-c", "pass"])
    gone.wait()
    dead = tmp_path / f"k.{gone.pid}.part"
    dead.write_bytes(b"left by a killed builder")
    part.write_bytes(b"being written")
    _sweep_parts(str(tmp_path))
    assert not dead.exists()
    assert part.exists() and jsa.exists()


def test_no_cds_flag_for_a_conf_dir_or_a_cache_that_cannot_hold_one(
        tmp_path, monkeypatch):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("\n")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    conf = dict(_DEFAULTS)
    assert _add_cds_flags(conf) is None
    assert conf == _DEFAULTS
    assert os.environ["SPARK_CONF_DIR"] == str(conf_dir)

    not_a_dir = tmp_path / "file"
    not_a_dir.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(not_a_dir))
    monkeypatch.delenv("SPARK_CONF_DIR")
    assert _add_cds_flags(conf) is None
    assert conf == _DEFAULTS
    assert "SPARK_CONF_DIR" not in os.environ

    # the same start with a usable cache does get the flags
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    part = _add_cds_flags(conf)
    assert (f"-XX:ArchiveClassesAtExit={part}"
            in conf["spark.driver.defaultJavaOptions"].split())
