from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from e_commerce_lakehouse_spark.session import build_session  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = build_session(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def ecom_csv(tmp_path_factory):
    """The six reference batch CSVs, seeded, with planted dirty rows
    (tests/ecom_batch.py): ``(csv_dir, facts)``."""
    from tests.ecom_batch import write_batch_csvs

    d = str(tmp_path_factory.mktemp("ecom_csv"))
    return d, write_batch_csvs(d, seed=7)


def file_spans(path: str, col: str) -> list[int]:
    """Per-parquet-file (max - min) span of ``col`` from footer
    row-group statistics — the shared scanner for layout tests."""
    import os

    import pyarrow.parquet as pq

    spans = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(path, f))
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            c = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == col
            )
            mins.append(c.statistics.min)
            maxs.append(c.statistics.max)
        if mins:
            spans.append(max(maxs) - min(mins))
    return spans
