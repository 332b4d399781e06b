"""Seed → crawl fixture tables.

Tables come from the engine's own generators
(``fixtures.generate.gen_*_pdf(seed=...)``), so a seed fully determines the
inputs. Generation takes about 3 s, runs before the clock starts and is
not part of ``setup_s``; each run writes its own copy and deletes it.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from nightcrawler_ds_pipeline_spark.fixtures import generate as g

TABLES = ("images", "serp_results", "fetch_responses", "robots")


def generate(seed: int, serp: int, hosts: int, images: int) -> dict[str, pd.DataFrame]:
    images_pdf = g.gen_images_pdf(images, seed=seed)
    serp_pdf = g.gen_serp_results_pdf(serp, seed=seed, num_hosts=hosts)
    return {
        "images": images_pdf,
        "serp_results": serp_pdf,
        "fetch_responses": g.gen_fetch_responses_pdf(serp_pdf, images_pdf, seed=seed),
        "robots": g.gen_robots_pdf(seed=seed, num_hosts=hosts),
    }


def write(out: str, workload, seed: int) -> str:
    """Write the workload's fixture tables for ``seed`` into ``out``."""
    os.makedirs(out)
    tables = generate(seed, workload.serp, workload.hosts, workload.images)
    for name, pdf in tables.items():
        # 2048-row groups keep the scans splittable (as the engine's own
        # fixture writer does)
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(out, f"{name}.parquet"),
            row_group_size=2048,
        )
    return out


def properties(fixture_dir: str) -> dict:
    """Input properties later claims can cite, computed from the tables."""
    serp = pq.read_table(f"{fixture_dir}/serp_results.parquet", columns=["url"]).column("url").to_pylist()
    links = [
        u
        for ls in pq.read_table(f"{fixture_dir}/fetch_responses.parquet", columns=["outlinks"])
        .column("outlinks")
        .to_pylist()
        for u in (ls or [])
    ]
    hosts = [urlparse(u).hostname for u in serp]
    hot = set(g.host_pool(2))
    phash = pq.read_table(f"{fixture_dir}/images.parquet", columns=["phash"]).column("phash").to_numpy()
    ok = phash[phash != 0]
    _, counts = np.unique(ok, return_counts=True)
    return {
        "seed_urls": len(serp),
        "seed_query_frac": sum("?" in u for u in serp) / len(serp),
        "outlinks": len(links),
        "outlink_query_frac": sum("?" in u for u in links) / len(links) if links else 0.0,
        "hosts": len(set(hosts)),
        "hot_host_frac": sum(h in hot for h in hosts) / len(hosts),
        "images": int(len(phash)),
        "dup_image_frac": float((counts - 1).sum() / len(ok)) if len(ok) else 0.0,
    }
