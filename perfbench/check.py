"""Correctness of a crawl against the pure-Python reference oracle.

Runs outside the timed region. One op is one crawl iteration; it fails
when its crawl order (seq, url_hash) or its seen rows differ from the
oracle's, or when a decoded image's dims/phash differ from the stored truth
or its caption is not byte-equal. The final seen set is checked on the last
iteration. The oracle result is cached per seed and crawl config.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nightcrawler_ds_pipeline_spark.crawl.reference_crawl_oracle import run_crawl_oracle
from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
from nightcrawler_ds_pipeline_spark.functions.urls import canonicalize

ORACLE_KEYS = ("iterations", "window_ms", "max_per_host", "outlink_priority_decay", "ttl_iters")
ORACLE_TABLES = ("serp_results", "fetch_responses", "robots")


def _rows(fixture_dir: str, table: str) -> list[dict]:
    return pq.read_table(f"{fixture_dir}/{table}.parquet").to_pylist()


def oracle(spark, fixture_dir: str, cfg, cache_dir: str, name: str) -> dict:
    """{"order": {iter: [[seq, url_hash], ...]}, "seen": [url_hash, ...]}
    for the fixture ``name`` (workload and seed) under ``cfg``. The cache
    key covers the config and the bytes of the tables the oracle reads."""
    params = {k: getattr(cfg, k) for k in ORACLE_KEYS}
    h = hashlib.sha256(json.dumps(params, sort_keys=True).encode())
    for table in ORACLE_TABLES:
        with open(f"{fixture_dir}/{table}.parquet", "rb") as f:
            h.update(f.read())
    path = os.path.join(cache_dir, f"{name}-{h.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    serp, responses, robots = (_rows(fixture_dir, t) for t in ORACLE_TABLES)
    responses = {r["url"]: r for r in responses}
    urls = [r["url"] for r in serp] + [
        u for r in responses.values() for u in (r["outlinks"] or [])
    ]
    # the seen key is Spark's own xxhash64 of the canonical url
    canon = sorted({canonicalize(u) for u in urls})
    hashes = {
        r["cu"]: r["h"]
        for r in spark.createDataFrame([(c,) for c in canon], "cu string")
        .select("cu", F.xxhash64("cu").alias("h"))
        .collect()
    }
    st = run_crawl_oracle(serp, responses, robots, hashes, **params)
    order: dict[str, list] = {}
    for it, seq, h in st.crawl_order:
        order.setdefault(str(it), []).append([seq, h])
    out = {"order": order, "seen": sorted(st.seen)}
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def iteration_failures(spark, catalog_root: str, fixture_dir: str, expected: dict,
                       iterations: int) -> list[str]:
    """One entry per iteration: "" when it matches, else the reason."""
    cat = SnapshotCatalog(catalog_root)
    results = cat.read(spark, "results")
    seen = cat.read(spark, "seen")
    if results is None or seen is None:
        return ["no committed results"] * iterations
    order: dict[int, set] = {}
    for r in results.select("iter", "seq", "url_hash").collect():
        order.setdefault(r["iter"], set()).add((r["seq"], r["url_hash"]))
    seen_rows: dict[int, set] = {}
    for r in seen.select("seen_iter", "url_hash").collect():
        seen_rows.setdefault(r["seen_iter"], set()).add(r["url_hash"])
    truth = spark.read.parquet(f"{fixture_dir}/images.parquet").select(
        "image_id",
        F.col("w").alias("w_t"),
        F.col("h").alias("h_t"),
        F.col("phash").alias("phash_t"),
        F.col("caption").alias("caption_t"),
    )
    bad_images = {
        r["iter"]: r["n"]
        for r in results.filter(F.col("decode_ok"))
        .join(truth, "image_id")
        .filter(
            (F.col("w") != F.col("w_t"))
            | (F.col("h") != F.col("h_t"))
            | (F.col("phash") != F.col("phash_t"))
            | ~F.col("caption").eqNullSafe(F.col("caption_t"))
        )
        .groupBy("iter")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    all_seen = set().union(*seen_rows.values()) if seen_rows else set()
    out = []
    for it in range(iterations):
        want = {tuple(x) for x in expected["order"].get(str(it), [])}
        got = order.get(it, set())
        reasons = []
        if got != want:
            reasons.append(f"crawl order: {len(got ^ want)} rows differ")
        if seen_rows.get(it, set()) != {h for _, h in want}:
            reasons.append("seen rows differ")
        if bad_images.get(it):
            reasons.append(f"{bad_images[it]} image gate failures")
        if it == iterations - 1 and all_seen != set(expected["seen"]):
            reasons.append("final seen set differs")
        out.append("; ".join(reasons))
    return out
