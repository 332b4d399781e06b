"""Replay pass: one call into each crawl layer's public function.

After the traced crawl, the committed state before iteration 1 is read back
and iteration 1's layer calls are made one at a time on materialized
(cached) inputs, each forced with a noop sink inside its own span and job
group. The loop itself overlaps these calls and shares caches between
them, so the replay gives per-layer cost, not a decomposition of the
crawl's wall time. The sketch probe alone uses the last iteration, where
TTL-expired URLs reach the frontier.
"""

from __future__ import annotations

import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nightcrawler_ds_pipeline_spark.codecs import decode_image, phash64
from nightcrawler_ds_pipeline_spark.crawl import politeness, seen as seen_layer
from nightcrawler_ds_pipeline_spark.crawl.fetch import fetch_batch
from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
from nightcrawler_ds_pipeline_spark.functions.urls import canonicalize_series, with_canonical

import sparkstats


def _materialize(df):
    df = df.cache()
    n = df.count()
    return df, n


class _Replay:
    def __init__(self, spark, tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.walls: dict[str, float] = {}
        self.groups: dict[str, str] = {}

    def force(self, name: str, df) -> None:
        """Run ``df`` to completion through a noop sink under span ``name``."""
        group = f"{self.tracer.run_id}.replay.{name}"
        self.groups[name] = group
        with self.tracer.span(f"replay.{name}", job_group=group) as span:
            sparkstats.set_group(self.sc, group)
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                sparkstats.set_group(self.sc, None)
        self.walls[name] = span.duration

    def shuffle_b(self, names) -> int:
        total = sparkstats.empty()
        for n in names:
            sparkstats.add(total, sparkstats.group_stats(self.sc, self.groups[n]))
        return total["shuffle_read_b"] + total["shuffle_write_b"]


def replay(spark, tracer, catalog_root: str, fixture_dir: str, cfg) -> tuple[dict, dict]:
    """Per-layer metrics, and workload properties seen on the way."""
    r = _Replay(spark, tracer)
    cat = SnapshotCatalog(catalog_root)
    it, committed = 1, 0
    responses = spark.read.parquet(f"{fixture_dir}/fetch_responses.parquet")
    robots = spark.read.parquet(f"{fixture_dir}/robots.parquet")
    images = spark.read.parquet(f"{fixture_dir}/images.parquet")

    frontier, _ = _materialize(cat.read(spark, "frontier", max_iter=committed))
    seen_full, n_seen = _materialize(cat.read(spark, "seen", max_iter=committed))
    seen = seen_full
    if cfg.ttl_iters is not None:
        seen = seen_full.filter(F.col("seen_iter") > it - cfg.ttl_iters)
    bucket, _ = _materialize(cat.read(spark, "politeness", max_iter=committed))
    P = cfg.bloom_partitions

    # seen layer: the sketch is built and probed on both workloads; the loop
    # itself only uses it at or above bloom_min_seen
    r.force("seen.sketch_build", seen_layer.build_bloom_partitions(seen_full, num_partitions=P))
    bloom, _ = _materialize(seen_layer.build_bloom_partitions(seen_full, num_partitions=P))
    sketch_bytes = bloom.agg(F.sum(F.length("bitset"))).first()[0] or 0
    use_sketch = n_seen >= cfg.bloom_min_seen
    unseen = seen_layer.filter_unseen(
        spark, frontier, seen, bloom if use_sketch else None, num_partitions=P
    )
    r.force("seen.filter_unseen", unseen)
    candidates, n_unseen = _materialize(unseen)
    n_suspects, n_confirmed = _sketch_probe(spark, cat, cfg)

    # politeness layer
    gated_df = politeness.robots_filter(candidates, robots)
    r.force("politeness.robots_filter", gated_df)
    gated, n_gated = _materialize(gated_df)
    dq = politeness.dequeue_gated(
        gated,
        window_ms=cfg.window_ms,
        max_per_host=cfg.max_per_host,
        num_salts=cfg.num_salts,
        bucket_state=bucket,
        assign_seq=False,
    )
    r.force("politeness.dequeue", dq)
    pre_batch, n_batch = _materialize(dq)
    seq = politeness.assign_global_seq(pre_batch, known_count=n_batch)
    r.force("politeness.assign_seq", seq)
    batch, _ = _materialize(seq)
    r.force(
        "politeness.bucket_update",
        politeness.next_bucket_state(
            gated.select("host", "crawl_delay_ms"), batch, bucket, window_ms=cfg.window_ms
        ),
    )

    # fetch layer
    fetched_df = fetch_batch(batch, responses, images, batch_count=n_batch)
    r.force("fetch.fetch_batch", fetched_df)
    fetched, n_fetched = _materialize(fetched_df)
    n_decoded = fetched.filter(F.col("decode_ok")).count()

    # sketch merge of this iteration's keys (what the loop does above the gate)
    new_bloom = seen_layer.build_bloom_partitions(batch.select("url_hash"), num_partitions=P)
    r.force("seen.sketch_merge", seen_layer.merge_bloom_tables(bloom, new_bloom))

    # urls layer: canonicalize the replayed outlink edges
    outlinks, n_outlinks = _materialize(
        fetched.filter(~F.col("error") & F.col("outlinks").isNotNull()).select(
            F.explode("outlinks").alias("url")
        )
    )
    r.force("urls.with_canonical", with_canonical(outlinks, "url"))

    out = {
        "seen.filter_unseen_s": r.walls["seen.filter_unseen"],
        "seen.unseen_rows": n_unseen,
        "seen.sketch_suspects": n_suspects,
        "seen.sketch_precision": n_confirmed / n_suspects if n_suspects else 1.0,
        "seen.sketch_build_s": r.walls["seen.sketch_build"],
        "seen.sketch_merge_s": r.walls["seen.sketch_merge"],
        "seen.sketch_bytes": sketch_bytes,
        "politeness.robots_filter_s": r.walls["politeness.robots_filter"],
        "politeness.dequeue_s": r.walls["politeness.dequeue"],
        "politeness.assign_seq_s": r.walls["politeness.assign_seq"],
        "politeness.bucket_update_s": r.walls["politeness.bucket_update"],
        "politeness.dequeue_ratio": n_batch / n_gated if n_gated else 0.0,
        "politeness.shuffle_b": r.shuffle_b(
            ["politeness.robots_filter", "politeness.dequeue",
             "politeness.assign_seq", "politeness.bucket_update"]
        ),
        "fetch.fetch_batch_s": r.walls["fetch.fetch_batch"],
        "fetch.decode_ok_frac": n_decoded / n_fetched if n_fetched else 0.0,
        "fetch.shuffle_b": r.shuffle_b(["fetch.fetch_batch"]),
        "urls.with_canonical_s": r.walls["urls.with_canonical"],
    }
    for df in (frontier, seen_full, bucket, bloom, candidates, gated,
               pre_batch, batch, fetched, outlinks):
        df.unpersist()
    out.update(in_process(tracer, fixture_dir))
    props = {"seen_rows_at_replay": n_seen, "replay_outlinks": n_outlinks,
             "replay_sketch_used": use_sketch}
    return out, props


def _sketch_probe(spark, cat, cfg) -> tuple[int, int]:
    """(suspects, confirmed seen) of a Bloom probe of the LAST iteration's
    frontier. The frontier never holds an actively seen URL, so every
    suspect is a false positive or, under a TTL, an expired URL that was
    rediscovered; those first reach the frontier late in the crawl."""
    last = cfg.iterations - 1
    frontier = cat.read(spark, "frontier", max_iter=last - 1)
    seen_full = cat.read(spark, "seen", max_iter=last - 1)
    if frontier is None or seen_full is None:
        return 0, 0
    active = seen_full
    if cfg.ttl_iters is not None:
        active = seen_full.filter(F.col("seen_iter") > last - cfg.ttl_iters)
    bloom, _ = _materialize(
        seen_layer.build_bloom_partitions(seen_full, num_partitions=cfg.bloom_partitions)
    )
    suspects, n_suspects = _materialize(
        seen_layer.bloom_suspect_keys(frontier, bloom, num_partitions=cfg.bloom_partitions)
    )
    n_confirmed = suspects.join(active.select("url_hash"), "url_hash", "left_semi").count()
    suspects.unpersist()
    bloom.unpersist()
    return n_suspects, n_confirmed


def _rate(fn, n_items: int, min_s: float = 0.5) -> float:
    """Items per second of ``fn`` over ``n_items``, repeated for ``min_s``."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= min_s:
            return n_items * reps / elapsed


def in_process(tracer, fixture_dir: str, n_images: int = 300) -> dict:
    """Throughput of the per-row Python functions, outside Spark, on the
    workload's own URLs and images."""
    serp = pq.read_table(f"{fixture_dir}/serp_results.parquet", columns=["url"])
    resp = pq.read_table(f"{fixture_dir}/fetch_responses.parquet", columns=["outlinks"])
    urls = serp.column("url").to_pylist() + [
        u for links in resp.column("outlinks").to_pylist() for u in (links or [])
    ]
    series = pd.Series(urls, dtype=object)
    with tracer.span("urls.canonicalize_series"):
        canon_rate = _rate(lambda: canonicalize_series(series), len(series))

    blobs = pq.read_table(f"{fixture_dir}/images.parquet", columns=["bytes"]).column(
        "bytes"
    ).to_pylist()[:n_images]

    def decode_all():
        for b in blobs:
            try:
                phash64(decode_image(b))
            except ValueError:  # ~1% of fixture images are truncated on purpose
                pass

    with tracer.span("codecs.decode_phash"):
        codec_rate = _rate(decode_all, len(blobs))
    return {"urls.canonicalize_per_s": canon_rate, "codecs.decode_phash_per_s": codec_rate}
