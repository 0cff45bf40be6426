from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xcube_server_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="xss-tests", master="local[*]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def register_weekly():
    """A function that registers the reference demo's computed weekly-mean
    cube of a catalog's 'demo' (no level table) under an identifier."""
    from xcube_server_spark.cube.catalog import DatasetMeta

    def register(cat, ident: str) -> None:
        if ident not in cat.datasets:
            base = cat.datasets["demo"]
            cat.register(DatasetMeta(
                identifier=ident, title="weekly", base_path="",
                grid=base.grid, tile_grid=base.tile_grid, variables=base.variables,
                computed=True, function="resample_in_time",
                input_datasets=["demo"], input_params={"period": "1W"},
            ))

    return register
