"""Seed → fixture determinism: the same seed gives the same tables and a
different seed gives different ones."""

import os
from dataclasses import replace

import pandas as pd
import pyarrow.parquet as pq

import fixtures
from workloads import WORKLOADS

SMALL = dict(serp=120, hosts=20, images=60)


def test_same_seed_same_tables():
    a = fixtures.generate(7, **SMALL)
    b = fixtures.generate(7, **SMALL)
    assert set(a) == set(fixtures.TABLES)
    for name in fixtures.TABLES:
        pd.testing.assert_frame_equal(a[name], b[name])


def test_other_seed_other_tables():
    a = fixtures.generate(7, **SMALL)
    b = fixtures.generate(8, **SMALL)
    assert not a["serp_results"]["url"].equals(b["serp_results"]["url"])
    assert not a["images"]["phash"].equals(b["images"]["phash"])
    assert not a["robots"].equals(b["robots"])


def test_written_tables_are_the_generated_ones(tmp_path):
    wl = replace(WORKLOADS["crawl_small"], **SMALL)
    out = fixtures.write(str(tmp_path / "fx"), wl, 3)
    expected = fixtures.generate(3, **SMALL)
    for name in fixtures.TABLES:
        got = pq.read_table(os.path.join(out, f"{name}.parquet")).to_pandas()
        pd.testing.assert_frame_equal(got, expected[name], check_dtype=False)
