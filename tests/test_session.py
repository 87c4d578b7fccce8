"""Local-mode sessions from ``session.get_spark`` put the package on
the Python workers' path: a driver script run from outside the repo
root, with no PYTHONPATH, that puts the package on its own sys.path
only, must still run a Python UDF.  Their default driver heap fits the
host."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from llm_scraper_spark.functions.urls import url_hash_one, url_hash_udf
from llm_scraper_spark.session import get_spark

spark = get_spark("workers-path", cores=1, shuffle_partitions=1)
url = "http://a.example.com/x"
df = spark.createDataFrame([(url,)], "url string")
got = df.select(url_hash_udf("url").alias("h")).first()["h"]
assert got == url_hash_one(url), (got, url_hash_one(url))
print("hash-ok")
spark.stop()
"""


def test_workers_import_package_without_pythonpath(tmp_path):
    script = tmp_path / "drive.py"
    script.write_text(_SCRIPT.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "hash-ok" in proc.stdout


def test_default_driver_heap_fits_the_host(monkeypatch):
    """Half the physical memory in whole GB, within 1g-16g; checked on
    this host and on three simulated ones (4 KiB pages)."""
    from llm_scraper_spark.session import default_driver_mem

    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert int(default_driver_mem()[:-1]) * 2**30 <= max(phys // 2, 2**30)
    for pages, want in ((2**18, "1g"), (int(15.7 * 2**18), "7g"), (2**24, "16g")):
        conf = {"SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": 4096}
        monkeypatch.setattr(os, "sysconf", conf.__getitem__)
        assert default_driver_mem() == want
