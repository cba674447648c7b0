"""Knob registry: every ``SPARK_GRAFT_*`` environment variable the
package reads is listed in the table in ``birli_spark/session.py``'s
module docstring, and every listed name is still read somewhere — a new
knob cannot land undocumented, and a retired one cannot linger in the
table."""

from __future__ import annotations

import ast
import pathlib
import re

import birli_spark
from birli_spark import session

KNOB = re.compile(r"SPARK_GRAFT_\w+")


def _table_names() -> set[str]:
    """First-column names of the docstring's knob table rows."""
    return {m.group(0) for line in session.__doc__.splitlines()
            if (m := re.match(r"SPARK_GRAFT_\w+", line))}


def _code_names() -> set[str]:
    """Every SPARK_GRAFT_* token in the package source, the session
    module's docstring (the table itself) excluded."""
    pkg = pathlib.Path(birli_spark.__file__).parent
    names = set()
    for path in pkg.rglob("*.py"):
        src = path.read_text()
        if path.name == "session.py" and path.parent == pkg:
            doc = ast.parse(src).body[0]
            src = "\n".join(src.splitlines()[doc.end_lineno:])
        names |= set(KNOB.findall(src))
    return names


def test_knob_table_matches_code():
    table = _table_names()
    assert table, "no SPARK_GRAFT_* table in session.py's docstring"
    assert _code_names() == table
