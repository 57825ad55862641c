import os
import re

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from osm2pgsql_spark.session import get_spark

    s = get_spark("osm2pgsql-spark-tests", shuffle_partitions=4)
    yield s
    s.stop()


def _absent_root(path: str) -> str | None:
    """The outermost directory of `path` that does not exist."""
    parts = path.split("/")
    for i in range(2, len(parts) + 1):
        prefix = "/".join(parts[:i])
        if not os.path.exists(prefix):
            return prefix
    return None


def pytest_terminal_summary(terminalreporter):
    """Name each absent fixture tree once: one line per missing root
    that failing tests tried to open, with how many failures and errors
    mention it.  Reporting only; no test outcome changes."""
    texts = {kind: [str(r.longrepr) for r in terminalreporter.stats.get(kind, [])]
             for kind in ("failed", "error")}
    roots = {
        root
        for kind_texts in texts.values() for text in kind_texts
        for path in re.findall(r"No such file or directory: '(/[^']+)'", text)
        if (root := _absent_root(path)) is not None
    }
    for root in sorted(roots):
        failed, errors = (sum(root in t for t in texts[k])
                          for k in ("failed", "error"))
        terminalreporter.write_line(
            f"absent fixture tree {root}: {failed} failed and {errors} "
            f"errors mention it")
