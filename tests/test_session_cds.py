"""get_spark's class-data-sharing launch path.

The command-line tests replace the gateway's Popen in a child interpreter,
so they see the exact spark-submit command and environment without
starting a JVM; the key and promotion tests run in-process against a fake
``java``. One integration test starts two real sessions on a fresh cache.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from metadata_enhanced_pretrain_datapipeline_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CAPTURE = r"""
import json, os
import pyspark.java_gateway as gw
from metadata_enhanced_pretrain_datapipeline_spark.session import get_spark

seen = {}

class Launched(Exception):
    pass

def popen(cmd, **kw):
    seen.update(cmd=cmd, launch_conf_dir=kw["env"].get("SPARK_CONF_DIR"))
    raise Launched

gw.Popen = popen
try:
    get_spark("cds-test", cpus=1)
except Launched:
    pass
seen["conf_dir_after"] = os.environ.get("SPARK_CONF_DIR")
print(json.dumps(seen))
"""

_SESSION = r"""
import json
from metadata_enhanced_pretrain_datapipeline_spark.session import get_spark

spark = get_spark("cds-test", cpus=1)
mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
    .getRuntimeMXBean()
print(json.dumps({"count": spark.range(1000).count(),
                  "args": list(mx.getInputArguments())}))
"""


def _env(tmp_path, conf_files=("spark-defaults.conf.template",),
         submit_args="pyspark-shell"):
    conf = tmp_path / "spark-conf"
    conf.mkdir(exist_ok=True)
    for name in conf_files:
        (conf / name).write_text("spark.ui.enabled false\n")
    env = {k: v for k, v in os.environ.items()
           if k not in session._CDS_OPTION_ENVS + session._CDS_CLASSPATH_ENVS
           and k != "PYSPARK_GATEWAY_PORT"}
    env.update(XDG_CACHE_HOME=str(tmp_path / "cache"), SPARK_CONF_DIR=str(conf),
               PYSPARK_SUBMIT_ARGS=submit_args, SPARK_DRIVER_MEMORY="1g",
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    return env


def _run(script, env, timeout=60):
    cwd = os.path.dirname(env["XDG_CACHE_HOME"])
    out = subprocess.run([sys.executable, "-c", script], env=env, cwd=cwd,
                         capture_output=True, text=True, timeout=timeout)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _java_opts(cmd):
    return [c.split("=", 1)[1] for c in cmd
            if c.startswith("spark.driver.defaultJavaOptions=")]


def test_cds_flag_rides_in_default_options_beside_caller_options(tmp_path):
    # no SPARK_CONF_DIR, and a Spark home whose conf directory holds only
    # templates (spark-submit never runs, so its jars can be stand-ins)
    home = tmp_path / "spark-home"
    for d in ("jars", "conf"):
        (home / d).mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"")
    (home / "conf" / "spark-env.sh.template").write_text("")
    env = _env(tmp_path, submit_args="--driver-java-options "
               "-Dcaller.flag=1 pyspark-shell")
    del env["SPARK_CONF_DIR"]
    env["SPARK_HOME"] = str(home)
    cache = tmp_path / "cache" / session._CDS_DIR
    seen = _run(_CAPTURE, env)
    cmd = seen["cmd"]
    i = cmd.index("--driver-java-options")
    assert cmd[i + 1] == "-Dcaller.flag=1"
    (opts,) = _java_opts(cmd)
    flag, quiet = opts.split()
    assert flag.startswith(f"-XX:ArchiveClassesAtExit={cache}/")
    assert flag.endswith(".part") and quiet == session._CDS_QUIET
    # the empty conf directory is the launch's only, then the caller's is back
    assert seen["launch_conf_dir"] == str(cache / "conf")
    assert os.listdir(cache / "conf") == []
    assert seen["conf_dir_after"] is None

    # with the archive and its size record in place the launch maps it
    # instead of dumping
    key = os.path.basename(flag).split(".")[0]
    (cache / f"{key}.jsa").write_bytes(b"")
    (cache / f"{key}.jsa.size").write_text("0")
    (opts,) = _java_opts(_run(_CAPTURE, env)["cmd"])
    assert opts.split()[0] == f"-XX:SharedArchiveFile={cache}/{key}.jsa"


@pytest.mark.parametrize("conf_files,submit_args", [
    (("spark-defaults.conf",), "pyspark-shell"),
    (("log4j2.properties.template",),
     "--conf spark.driver.defaultJavaOptions=-Dcaller.flag=1 pyspark-shell"),
    (("log4j2.properties.template",),
     "--driver-java-options -Xshare:off pyspark-shell"),
], ids=["live-spark-defaults", "caller-default-options", "caller-xshare"])
def test_caller_config_turns_cds_off(tmp_path, conf_files, submit_args):
    env = _env(tmp_path, conf_files=conf_files, submit_args=submit_args)
    seen = _run(_CAPTURE, env)
    assert [o for o in _java_opts(seen["cmd"]) if "Archive" in o] == []
    assert seen["launch_conf_dir"] == env["SPARK_CONF_DIR"]
    assert seen["conf_dir_after"] == env["SPARK_CONF_DIR"]
    assert not (tmp_path / "cache").exists()


def test_key_tracks_jdk_release_and_jar_size_and_mtime(tmp_path):
    jdk, jars = tmp_path / "jdk", tmp_path / "jars"
    (jdk / "bin").mkdir(parents=True)
    jars.mkdir()
    java = jdk / "bin" / "java"
    java.write_text("")
    (jdk / "release").write_text('JAVA_VERSION="17.0.1"\n')
    for name in ("a.jar", "b.jar"):
        (jars / name).write_bytes(b"x" * 10)

    def key():
        return session._cds_key(str(java), str(jars), str(tmp_path / "conf"))

    keys = [key()]
    assert key() == keys[0]
    (jars / "b.jar").write_bytes(b"x" * 11)
    keys.append(key())
    st = os.stat(jars / "a.jar")
    os.utime(jars / "a.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    keys.append(key())
    (jdk / "release").write_text('JAVA_VERSION="17.0.2"\n')
    keys.append(key())
    assert len(set(keys)) == 4


def test_truncated_part_is_never_promoted(tmp_path):
    # the fake java maps an archive only when it is whole, as -Xshare:on does
    whole = 4096
    log = tmp_path / "java.log"
    java = tmp_path / "java"
    java.write_text(
        f"#!{sys.executable}\nimport os, sys\n"
        f"open({str(log)!r}, 'a').write(' '.join(sys.argv[1:]) + '\\n')\n"
        "part = [a for a in sys.argv if a.startswith('-XX:SharedArchiveFile=')]"
        "[0].split('=', 1)[1]\n"
        f"sys.exit(0 if os.path.getsize(part) == {whole} else 1)\n")
    java.chmod(0o755)
    cache, key = tmp_path / "cds", "k"
    cache.mkdir()

    def dump(token, size, age_s=0.0):
        part = cache / f"{key}.{token}.part"
        part.write_bytes(b"\0" * size)
        (cache / f"{key}.{token}.args").write_text('["-cp", "/jars/*"]')
        t = time.time() - age_s
        os.utime(part, (t, t))

    dump("young", whole - 1)
    dump("old", whole - 1, age_s=2 * session._CDS_STALE_S)
    session._cds_promote(str(cache), key, str(java))
    assert not (cache / f"{key}.jsa").exists()
    # a young failing part may still be written; an old one lost its writer
    assert sorted(os.listdir(cache)) == ["k.young.args", "k.young.part"]
    assert "-Xshare:on" in log.read_text() and "-cp /jars/*" in log.read_text()

    dump("whole", whole)
    session._cds_promote(str(cache), key, str(java))
    assert (cache / f"{key}.jsa").stat().st_size == whole
    assert (cache / f"{key}.jsa.size").read_text() == str(whole)
    assert sorted(os.listdir(cache)) == [
        "k.jsa", "k.jsa.size", "k.young.args", "k.young.part"]


@pytest.mark.parametrize("record", ["whole", "missing"])
def test_archive_that_lost_its_size_is_dropped_and_dumped_anew(
        tmp_path, monkeypatch, record):
    # no JVM: _cds_launch only plans this process's launch
    from pyspark import SparkContext

    env = _env(tmp_path)
    for k in session._CDS_OPTION_ENVS + session._CDS_CLASSPATH_ENVS + (
            "PYSPARK_GATEWAY_PORT",):
        monkeypatch.delenv(k, raising=False)
    for k in ("XDG_CACHE_HOME", "SPARK_CONF_DIR"):
        monkeypatch.setenv(k, env[k])
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    cache = tmp_path / "cache" / session._CDS_DIR

    opts, _, stem = session._cds_launch()
    assert opts.startswith(f"-XX:ArchiveClassesAtExit={stem}.part")
    key = os.path.basename(stem).split(".")[0]
    archive = cache / f"{key}.jsa"
    archive.write_bytes(b"\1" * 4096)
    (cache / f"{key}.jsa.size").write_text("4096")
    opts, _, stem = session._cds_launch()
    assert opts.split()[0] == f"-XX:SharedArchiveFile={archive}" and stem is None

    # cut to half its length after promotion, or promoted with no record
    if record == "whole":
        archive.write_bytes(b"\1" * 2048)
    else:
        (cache / f"{key}.jsa.size").unlink()
    opts, _, stem = session._cds_launch()
    assert opts.startswith(f"-XX:ArchiveClassesAtExit={cache}/{key}.")
    assert stem is not None
    assert not archive.exists() and not (cache / f"{key}.jsa.size").exists()


@pytest.fixture
def cds_env(tmp_path):
    yield _env(tmp_path)
    shutil.rmtree(tmp_path / "cache", ignore_errors=True)  # ~2 x 140 MB


def test_second_session_maps_the_archive_the_first_dumped(tmp_path, cds_env):
    env = cds_env
    cache = tmp_path / "cache" / session._CDS_DIR
    first = _run(_SESSION, env, timeout=600)
    assert first["count"] == 1000
    assert any("ArchiveClassesAtExit" in a for a in first["args"])
    # interpreter exit waited for the JVM to write the whole part
    (part,) = [p for p in os.listdir(cache) if p.endswith(".part")]
    key = part.split(".")[0]
    size = (cache / part).stat().st_size
    # a truncated copy that sorts first: the real JVM must refuse it
    (cache / f"{key}.0.part").write_bytes((cache / part).read_bytes()[:size // 2])
    (cache / f"{key}.0.args").write_bytes(
        (cache / part.replace(".part", ".args")).read_bytes())

    second = _run(_SESSION, env, timeout=600)
    assert second["count"] == 1000
    assert f"-XX:SharedArchiveFile={cache}/{key}.jsa" in second["args"]
    assert (cache / f"{key}.jsa").stat().st_size == size
    assert not (cache / part).exists()
    assert (cache / f"{key}.0.part").exists()
    # the check's JVM crashes on the truncated part and writes no crash log
    assert list(tmp_path.glob("hs_err_pid*")) == []
