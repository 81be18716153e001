"""``QUERIES.md`` is generated by ``scripts/query_catalog.py``; the committed
catalog must match the generator, so an edit that moves a query's
definition fails here until the catalog is regenerated::

    python scripts/query_catalog.py > QUERIES.md

Registry introspection only: no Spark session."""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os

from tests.conftest import REPO_ROOT


def test_committed_catalog_matches_the_generator():
    spec = importlib.util.spec_from_file_location(
        "query_catalog", os.path.join(REPO_ROOT, "scripts", "query_catalog.py")
    )
    catalog = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(catalog)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        catalog.main()
    with open(os.path.join(REPO_ROOT, "QUERIES.md"), encoding="utf-8") as fh:
        committed = fh.read()
    assert committed == out.getvalue(), (
        "QUERIES.md is stale: python scripts/query_catalog.py > QUERIES.md"
    )
