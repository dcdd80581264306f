from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def needs_corpus(root):
    """Skip mark for a test that reads the file corpus under ``root``:
    it skips, naming the directory, only when the corpus is absent."""
    return pytest.mark.skipif(
        not os.path.isdir(root), reason=f"corpus not found: {root}"
    )


def corpus_params(paths, root, id_fn=os.path.basename):
    """Parametrize values for a corpus file listing: one param per
    file, or, when the listing is empty, one case marked
    ``needs_corpus`` (pytest cannot build ids for an empty listing
    through an ``ids`` function)."""
    if paths:
        return [pytest.param(p, id=id_fn(p)) for p in paths]
    return [pytest.param(None, id="no-corpus", marks=needs_corpus(root))]


@pytest.fixture(scope="session")
def spark():
    from polars_readstat_spark.session import get_spark

    s = get_spark("pytest", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    return con
