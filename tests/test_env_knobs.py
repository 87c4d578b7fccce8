"""Every environment variable the package reads is documented: the
``SPARK_GRAFT_*`` / ``SPARK_DRIVER_MEM`` names in llm_scraper_spark/
must equal the rows of README.md's environment-variable table."""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_NAME = re.compile(r"\bSPARK_GRAFT_[A-Z0-9_]+|\bSPARK_DRIVER_MEM\b")


def _package_names() -> set[str]:
    names = set()
    for root, _dirs, files in os.walk(os.path.join(REPO, "llm_scraper_spark")):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    names |= set(_NAME.findall(fh.read()))
    return names


def _readme_table_names() -> set[str]:
    with open(os.path.join(REPO, "README.md"), encoding="utf-8") as fh:
        rows = [ln for ln in fh if ln.startswith("| `")]
    return {m.group(0) for ln in rows if (m := _NAME.search(ln.split("|")[1]))}


def test_readme_documents_every_env_knob():
    assert _package_names() == _readme_table_names()
