"""Every `spark.chronon.*` key the engine reads is documented, and every
documented key is read: the set of keys passed as a literal to a
`conf.get(...)` call anywhere in chronon_spark/ equals the keys of the
README "Configuration" table. Mentions in docstrings or comments are not
reads and do not count."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREFIX = "spark.chronon."


def _conf_reads() -> set[str]:
    keys = set()
    for dirpath, _, files in os.walk(os.path.join(ROOT, "chronon_spark")):
        for name in files:
            if not name.endswith(".py"):
                continue
            with open(os.path.join(dirpath, name), encoding="utf-8") as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "get"
                    and isinstance(node.func.value, (ast.Attribute, ast.Name))
                    and getattr(node.func.value, "attr", getattr(node.func.value, "id", None)) == "conf"
                    and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and str(node.args[0].value).startswith(PREFIX)
                ):
                    keys.add(node.args[0].value)
    return keys


def _readme_table() -> dict[str, tuple[str, str]]:
    with open(os.path.join(ROOT, "README.md"), encoding="utf-8") as f:
        text = f.read()
    section = re.search(r"^## Configuration\n(.*?)(?=^## )", text, re.S | re.M)
    assert section, "README has no '## Configuration' section"
    rows = {}
    for line in section.group(1).splitlines():
        m = re.match(r"\|\s*`(spark\.chronon\.[^`]+)`\s*\|([^|]*)\|([^|]*)\|\s*$", line)
        if m:
            assert m.group(1) not in rows, f"duplicate row {m.group(1)}"
            rows[m.group(1)] = (m.group(2).strip(), m.group(3).strip())
    return rows


def test_reads_are_found():
    # positive control: the scan sees a key read inside a call's argument
    assert "spark.chronon.backfill.small_mode.cutoff" in _conf_reads()
    assert "spark.chronon.join.backfill.mode.skewFree" not in _conf_reads()


def test_readme_configuration_table_matches_conf_reads():
    table = _readme_table()
    reads = _conf_reads()
    assert set(table) == reads, (
        f"read but undocumented: {sorted(reads - set(table))}; "
        f"documented but never read: {sorted(set(table) - reads)}"
    )
    for key, (default, what) in table.items():
        assert default and what, f"{key}: needs a default and a description"
