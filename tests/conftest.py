import ast
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_TESTS_DIR = Path(__file__).resolve().parent


def duplicate_top_level_names(path: Path) -> list[str]:
    """`file:line` notes for every top-level def/class that redefines an
    earlier one in the same file (the later definition silently shadows the
    first, so a shadowed test never runs)."""
    seen: dict[str, int] = {}
    dups = []
    for node in ast.parse(path.read_text(), filename=str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if node.name in seen:
                dups.append(
                    f"{path}:{node.lineno}: {node.name!r} redefines line {seen[node.name]}"
                )
            else:
                seen[node.name] = node.lineno
    return dups


class _DuplicateNames(pytest.File):
    def collect(self):
        raise self.CollectError(
            "duplicate top-level definitions:\n" + "\n".join(self.dups)
        )


def pytest_collect_file(file_path, parent):
    """Fail collection of any tests/*.py that defines a top-level name twice."""
    if file_path.suffix != ".py" or file_path.resolve().parent != _TESTS_DIR:
        return None
    dups = duplicate_top_level_names(file_path)
    if not dups:
        return None
    node = _DuplicateNames.from_parent(
        parent, path=file_path, name=f"{file_path.name}[duplicate-names]"
    )
    node.dups = dups
    return node


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[8]")
        .appName("ioverlay-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
