"""The package's tuning values are named module constants, not
session-conf keys: no deployment sets a ``spark.imp_etl.*`` key, so a
key read is an option with one value in use that every test matrix
would still have to cover."""

from __future__ import annotations

import pathlib

import imp_etl_spark

_PACKAGE = pathlib.Path(imp_etl_spark.__file__).parent


def test_package_reads_no_imp_etl_session_conf():
    hits = [f"{p.relative_to(_PACKAGE)}:{n}"
            for p in sorted(_PACKAGE.rglob("*.py"))
            for n, line in enumerate(p.read_text().splitlines(), 1)
            if "spark.imp_etl." in line]
    assert not hits, hits
