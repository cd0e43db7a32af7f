"""The north-rule deployment shape: ``spark-submit --py-files sage_spark.zip``.

The e2e test copies jobs/run_kg.py into a directory that does NOT contain
the package, zips sage_spark/, and submits — so the import can only resolve
from ``--py-files``, and the session must come up under spark-submit's
``--master`` / ``--conf`` (build_spark must leave both alone when launched
by spark-submit; sage_spark/session.py). The unit tests pin that decision:
``.master()`` set in app code silently overrides ``--master``, which would
force a YARN/k8s submission back to local mode, and a shuffle-partition
fallback computed from the driver host's core count would pin a
1000-executor job to ~32 partitions. The driver JVM's JIT policy is set
only outside spark-submit, and a fresh standalone driver runs it together
with the caller's extraJavaOptions. Every job also runs as a plain
script far enough to print its ``--help`` (its ``__main__`` wiring and the
``sys.path`` line that finds the package).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from sage_spark.session import (
    _under_spark_submit,
    default_driver_memory,
    default_java_options,
    resolve_session_shape,
)

REPO = Path(__file__).resolve().parents[1]
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def test_resolve_session_shape_standalone() -> None:
    master, shuffle, submitted = resolve_session_shape(None, None, {"SPARK_GRAFT_CPUS": "7"})
    assert (master, shuffle, submitted) == ("local[7]", 7, False)
    # explicit arguments always win
    master, shuffle, submitted = resolve_session_shape("local[2]", 3, {"SPARK_GRAFT_CPUS": "7"})
    assert (master, shuffle, submitted) == ("local[2]", 3, False)


def test_resolve_session_shape_under_submit() -> None:
    env = {"PYSPARK_GATEWAY_PORT": "50000", "SPARK_GRAFT_CPUS": "7"}
    # the submit command line governs: nothing pinned in code
    assert resolve_session_shape(None, None, env) == (None, None, True)
    # an explicit caller request still wins even under submit
    master, shuffle, _ = resolve_session_shape("local[2]", 3, env)
    assert (master, shuffle) == ("local[2]", 3)
    assert _under_spark_submit({"PYSPARK_GATEWAY_SECRET": "x"})
    assert not _under_spark_submit({})


def test_default_driver_memory_fits_the_host() -> None:
    gib = 2**30
    # half of physical memory, whole GiB, clamped to 1g..16g
    assert default_driver_memory({}, 15 * gib + 512 * 2**20) == "7g"
    assert default_driver_memory({}, 1 * gib) == "1g"
    assert default_driver_memory({}, 256 * gib) == "16g"
    # the environment override wins on any host
    assert default_driver_memory({"SAGE_SPARK_DRIVER_MEM": "96g"}, 15 * gib) == "96g"
    # this host: never more than it physically has
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(default_driver_memory({})[:-1]) * gib <= max(host, gib)


def test_default_java_options() -> None:
    assert default_java_options({}) == "-XX:TieredStopAtLevel=1 -Xss4m"
    # the environment override replaces the policy; empty is stock tiering
    env = {"SAGE_SPARK_DRIVER_JAVA_OPTS": "-XX:CICompilerCount=2"}
    assert default_java_options(env) == "-XX:CICompilerCount=2"
    assert default_java_options({"SAGE_SPARK_DRIVER_JAVA_OPTS": ""}) == ""
    # spark-submit already started the driver JVM: nothing to set
    assert default_java_options({"PYSPARK_GATEWAY_PORT": "50000"}) == ""
    assert default_java_options({**env, "PYSPARK_GATEWAY_PORT": "50000"}) == ""


_PROBE = """
from sage_spark.session import build_spark
spark = build_spark(extra_conf={"spark.driver.extraJavaOptions": "-Dsage.probe=1"})
bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print("\\n".join(bean.getInputArguments()))
spark.stop()
"""


def test_jit_policy_and_extra_java_options_reach_a_fresh_driver(tmp_path: Path) -> None:
    """A fresh standalone driver JVM runs the policy AND the caller's
    extraJavaOptions: the policy sits in spark.driver.defaultJavaOptions,
    so extraJavaOptions (kgbench's -Djava.io.tmpdir) append to it."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SAGE_SPARK_DRIVER_JAVA_OPTS", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")
    }
    env["PYTHONPATH"] = str(REPO)
    env["SAGE_SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE],
        capture_output=True, text=True, timeout=300, cwd=tmp_path, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    args = proc.stdout.splitlines()
    assert "-XX:TieredStopAtLevel=1" in args and "-Xss4m" in args, args
    assert "-Dsage.probe=1" in args


def test_spark_submit_py_files_e2e(tmp_path: Path) -> None:
    if not Path(SPARK_SUBMIT).exists():
        pytest.skip("spark-submit not available on this host")

    zip_path = tmp_path / "sage_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for py in sorted((REPO / "sage_spark").rglob("*.py")):
            zf.write(py, py.relative_to(REPO))
    job = tmp_path / "run_kg.py"
    shutil.copy(REPO / "jobs" / "run_kg.py", job)
    store = tmp_path / "store"

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zip_path),
            str(job),
            "--synthetic", "300",
            "--store", str(store),
            "--run-id", "sub1",
            "--run-ts", "2026-05-01T00:00:00+00:00",
        ],
        capture_output=True,
        text=True,
        timeout=500,
        cwd=tmp_path,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("run sub1 batch:")][-1]
    counts = dict(kv.split("=") for kv in line.split(": ", 1)[1].split())
    assert int(counts["documents"]) > 0
    assert int(counts["facts_current"]) > 0
    assert any((store / "facts").rglob("*.parquet"))


@pytest.mark.parametrize(
    "job", ["run_dataprep", "run_insight", "run_kg", "run_kg_stream", "run_maintain"]
)
def test_job_script_help_exits_zero(job: str, tmp_path: Path) -> None:
    """``python jobs/<job>.py --help`` from a directory without the package:
    the import resolves through the script's own sys.path line, and argparse
    exits before any JVM starts."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(REPO / "jobs" / f"{job}.py"), "--help"],
        capture_output=True, text=True, timeout=120, cwd=tmp_path, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.startswith(f"usage: {job}.py")
