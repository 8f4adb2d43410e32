"""get_spark's worker daemon: Python workers fork from a preloaded, frozen
daemon (``worker_daemon.py``) when a worker can import the package.

The guard tests replace the gateway's Popen in a child interpreter and
read the spark-submit command, so no JVM starts. The session tests start
fresh sessions in child interpreters and ask real workers what they
inherited from the daemon.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import sysconfig

import pytest

from metadata_enhanced_pretrain_datapipeline_spark import session, zipcache

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.basename(os.path.dirname(session.__file__))
OURS = f"spark.python.daemon.module={session._DAEMON_MODULE}"

# the child imports the package from the checkout whatever its environment;
# only the environment decides what a worker could import
_CAPTURE = f"import sys; sys.path.insert(0, {ROOT!r})\n" + r"""
import json
import pyspark.java_gateway as gw
from metadata_enhanced_pretrain_datapipeline_spark.session import get_spark

seen = {}

class Launched(Exception):
    pass

def popen(cmd, **kw):
    seen["cmd"] = cmd
    raise Launched

gw.Popen = popen
try:
    get_spark("daemon-test", cpus=1)
except Launched:
    pass
print(json.dumps(seen))
"""


def _env(tmp_path, pythonpath=None, **extra):
    """A child environment with no PYTHONPATH, launcher marks or live
    Spark conf of the caller's, and its caches under ``tmp_path``."""
    conf = tmp_path / "spark-conf"
    conf.mkdir(exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT", "PYTHONUSERBASE",
                        "PYTHONSAFEPATH", "SPARK_SUBMIT_OPTS")}
    env.update(SPARK_CONF_DIR=str(conf), XDG_CACHE_HOME=str(tmp_path / "cache"),
               PYSPARK_SUBMIT_ARGS="pyspark-shell")
    if pythonpath:
        env["PYTHONPATH"] = pythonpath
    env.update(extra)
    return env


def _launch_cmd(tmp_path, env, cwd=None):
    out = subprocess.run([sys.executable, "-c", _CAPTURE], env=env,
                         cwd=cwd or tmp_path, capture_output=True, text=True,
                         timeout=120)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])["cmd"]


def test_pythonpath_layout_names_the_daemon(tmp_path):
    cmd = _launch_cmd(tmp_path, _env(tmp_path, pythonpath=ROOT))
    assert OURS in cmd
    assert cmd[cmd.index(OURS) - 1] == "--conf"


def test_working_directory_layout_names_the_daemon(tmp_path):
    # python -m puts its working directory, the JVM's, first
    assert OURS in _launch_cmd(tmp_path, _env(tmp_path), cwd=ROOT)
    assert OURS not in _launch_cmd(tmp_path, _env(tmp_path, PYTHONSAFEPATH="1"),
                                   cwd=ROOT)


def test_installed_layout_names_the_daemon(tmp_path):
    base = tmp_path / "userbase"
    site_dir = sysconfig.get_path("purelib", f"{os.name}_user",
                                  vars={"userbase": str(base)})
    os.makedirs(site_dir)
    os.symlink(os.path.join(ROOT, PKG), os.path.join(site_dir, PKG))
    assert OURS in _launch_cmd(tmp_path, _env(tmp_path, PYTHONUSERBASE=str(base)))


def test_package_off_the_worker_path_leaves_the_daemon_unset(tmp_path):
    assert OURS not in _launch_cmd(tmp_path, _env(tmp_path))
    # another copy of the package first on the path: its daemon module is
    # not this one
    (tmp_path / "other" / PKG).mkdir(parents=True)
    other = os.pathsep.join([str(tmp_path / "other"), ROOT])
    assert OURS not in _launch_cmd(tmp_path, _env(tmp_path, pythonpath=other))


@pytest.mark.parametrize("env_name,value", [
    ("PYSPARK_SUBMIT_ARGS",
     "--conf spark.python.daemon.module=pyspark.daemon pyspark-shell"),
    ("PYSPARK_SUBMIT_ARGS", "--conf spark.python.use.daemon=false pyspark-shell"),
    ("SPARK_SUBMIT_OPTS", "-Dspark.python.use.daemon=false"),
    ("spark-defaults.conf", "spark.python.daemon.module pyspark.daemon\n"),
], ids=["submit-args-module", "submit-args-use-daemon", "submit-opts",
        "live-spark-defaults"])
def test_caller_daemon_choice_leaves_the_daemon_unset(tmp_path, env_name, value):
    env = _env(tmp_path, pythonpath=ROOT)
    if env_name == "spark-defaults.conf":
        (tmp_path / "spark-conf" / env_name).write_text(value)
    else:
        env[env_name] = value
    cmd = _launch_cmd(tmp_path, env)
    assert not [c for c in cmd if c.startswith(f"spark.python.daemon.module={PKG}")]


_SESSION = f"import sys; sys.path.insert(0, {ROOT!r})\n" + r"""
import json, os
from metadata_enhanced_pretrain_datapipeline_spark.session import get_spark

spark = get_spark("daemon-test", cpus=2)


def parent():
    ppid = os.getppid()
    with open(f"/proc/{ppid}/cmdline", "rb") as f:
        cmd = [a.decode() for a in f.read().split(b"\0") if a]
    return ppid, cmd


def report(**facts):
    import pyarrow as pa
    return pa.RecordBatch.from_pydict({"report": [json.dumps(facts)]})


def collect(df):
    return [json.loads(r.report) for r in df.collect()]
"""

# the first Python stage of the session; the probe does not import the
# package, so a zipcache guard in the worker came from the daemon
_FIRST_STAGE = _SESSION + r"""
def probe(batches):
    import gc, importlib, zipimport
    import pyarrow as pa
    for _ in batches:
        pass
    read = zipimport._read_directory
    calls = []
    zipimport._read_directory = lambda a: (calls.append(a), read(a))[1]
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    ppid, cmd = parent()
    yield report(
        daemon=cmd, frozen=gc.get_freeze_count(),
        guard=zipimport.zipimporter.invalidate_caches.__module__, reads=calls,
        daemon_threads=len(os.listdir(f"/proc/{ppid}/task")),
        pool=pa.default_memory_pool().backend_name)


(facts,) = collect(spark.range(1, numPartitions=1).mapInArrow(probe, "report string"))
print(json.dumps(facts))
spark.stop()
"""


def _run_session(tmp_path, script, env, timeout=300):
    out = subprocess.run([sys.executable, "-c", script], env=env, cwd=tmp_path,
                         capture_output=True, text=True, timeout=timeout)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _session_env(pythonpath=None, submit_args="pyspark-shell"):
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT")}
    env.update(PYSPARK_SUBMIT_ARGS=submit_args, SPARK_DRIVER_MEMORY="1g")
    if pythonpath:
        env["PYTHONPATH"] = pythonpath
    return env


def test_first_worker_forks_from_the_preloaded_frozen_daemon(tmp_path):
    facts = _run_session(tmp_path, _FIRST_STAGE, _session_env(ROOT))
    assert facts["daemon"][1:3] == ["-m", session._DAEMON_MODULE], facts
    assert facts["frozen"] > 0
    assert facts["guard"] == zipcache.__name__
    assert facts["reads"] == [], facts
    # fork safety: no jemalloc background thread (nor any other) in the
    # daemon, and Arrow still allocates with jemalloc
    assert facts["daemon_threads"] == 1, facts
    assert facts["pool"] == "jemalloc"


_FRESH_WORKERS = _SESSION + r"""
def arrow_task(batches):
    import pyarrow as pa
    import pyarrow.compute as pc
    total = 0
    for b in batches:
        total += pc.sum(pc.multiply(b.column(0), 2)).as_py() or 0
        pa.array(range(10_000)).to_numpy().sum()
    ppid, cmd = parent()
    yield report(pid=os.getpid(), daemon=cmd, total=total)


rows = collect(spark.range(200, numPartitions=200).mapInArrow(arrow_task, "report string"))
print(json.dumps({"pids": len({r["pid"] for r in rows}),
                  "daemons": sorted({" ".join(r["daemon"]) for r in rows}),
                  "total": sum(r["total"] for r in rows)}))
spark.stop()
"""


def test_fresh_workers_run_arrow_tasks_without_hanging(tmp_path):
    out = _run_session(tmp_path, _FRESH_WORKERS, _session_env(
        ROOT, "--conf spark.python.worker.reuse=false pyspark-shell"))
    assert out["pids"] == 200
    assert len(out["daemons"]) == 1 and session._DAEMON_MODULE in out["daemons"][0]
    assert out["total"] == 2 * sum(range(200))


_PLAIN_UDF = _SESSION + r"""
from pyspark.sql import functions as F

plus = F.udf(lambda x: x + 1, "long")
rows = spark.range(8, numPartitions=2).select(plus("id").alias("v")).collect()
print(json.dumps({
    "conf": spark.sparkContext.getConf().get("spark.python.daemon.module", None),
    "values": sorted(r.v for r in rows)}))
spark.stop()
"""


def test_plain_udf_runs_when_workers_cannot_import_the_package(tmp_path):
    out = _run_session(tmp_path, _PLAIN_UDF, _session_env())
    assert out["conf"] is None
    assert out["values"] == list(range(1, 9))
