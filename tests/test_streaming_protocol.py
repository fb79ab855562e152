"""The exactly-once streaming protocol lives in one place each: streams
start only in ``streaming.pipeline.launch`` and pointers are committed
only by ``stores.write_pointer``. Also: the package's Arrow UDFs run when
the process works from another directory."""

import glob
import os
import re
import subprocess
import sys
import textwrap

from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _engine_sources():
    paths = glob.glob(os.path.join(REPO, "etl_jlp_spark", "**", "*.py"), recursive=True)
    assert len(paths) > 50
    for path in paths:
        with open(path) as fh:
            yield os.path.relpath(path, REPO), fh.read()


def _function_of(source: str, needle: str) -> list[str]:
    """Names of the top-level functions whose bodies contain ``needle``."""
    found = []
    for chunk in re.split(r"\n(?=def |class )", source):
        if needle in chunk:
            m = re.match(r"(?:def|class) (\w+)", chunk)
            found.append(m[1] if m else "<module>")
    return found


def test_streams_start_only_in_the_launcher():
    sites = [
        (rel, fn)
        for rel, src in _engine_sources()
        for fn in _function_of(src, ".writeStream")
    ]
    assert sites == [(os.path.join("etl_jlp_spark", "streaming", "pipeline.py"), "launch")]


def test_pointers_commit_only_through_stores():
    sites = [
        (rel, fn)
        for rel, src in _engine_sources()
        for fn in _function_of(src, "os.replace(")
    ]
    assert sites == [(os.path.join("etl_jlp_spark", "stores.py"), "write_pointer")]


def test_arrow_udfs_run_outside_the_repo_directory(tmp_path):
    """A driver session started elsewhere (vanilla builder, cwd not the
    repo) runs a mapInPandas query: the Python workers must find the
    package without the repo being their working directory."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "1g")
            .getOrCreate()
        )
        import __spark_entry__ as ent
        ent.entry(spark)
        rows = ent.queries()["media_metadata_report"](spark, {SF_SMALL!r}).collect()
        print("ROWS", len(rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS 7" in out.stdout
