"""Guard: every `SensorTableStore` write goes through the one staged
publish (`_publish` over `sinks.atomic`'s snapshot protocol) in the one
file layout (`_prepare`), dated by the one UTC-day rule. No Spark
needed — an AST scan of `sinks/tables.py` that fails when a write
targets a live table path, when a second thread pool, heartbeat or
commit routine appears, or when a second layout or a session-zone date
does."""

from __future__ import annotations

import ast
import os

TABLES_PY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "purpleair_data_logger_spark",
    "sinks",
    "tables.py",
)


def _calls():
    with open(TABLES_PY) as fh:
        tree = ast.parse(fh.read())
    return [n for n in ast.walk(tree) if isinstance(n, ast.Call)]


def _chain(node) -> list[str]:
    """Attribute names along a method chain, outermost first."""
    names = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            node = node.func
    return names


def test_every_parquet_write_targets_a_staging_dir():
    writes = [
        c
        for c in _calls()
        if isinstance(c.func, ast.Attribute)
        and c.func.attr == "parquet"
        and "write" in _chain(c.func.value)
    ]
    assert writes, "no DataFrameWriter.parquet call found"
    direct = [
        ast.unparse(c)
        for c in writes
        if not (
            c.args
            and isinstance(c.args[0], ast.Call)
            and ast.unparse(c.args[0].func) == "atomic.staging_path"
        )
    ]
    assert direct == [], f"writes to a live table path: {direct}"


def test_one_pool_one_heartbeat_one_commit():
    called = [ast.unparse(c.func) for c in _calls()]
    assert called.count("ThreadPoolExecutor") == 1
    assert called.count("threading.Thread") == 1
    assert called.count("atomic.snapshot_commit") == 1
    assert "atomic.commit" not in called


def test_one_layout_and_no_session_zone_date():
    called = [c.func.attr for c in _calls() if isinstance(c.func, ast.Attribute)]
    assert called.count("repartition") == 1
    assert called.count("sortWithinPartitions") == 1
    assert "to_date" not in called
