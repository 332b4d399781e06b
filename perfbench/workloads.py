"""Workload definitions: fixture shape + crawl configuration per workload.

Why each workload exists is recorded in ``BENCHMARK.json`` and README.md.
Both drive ``crawl.loop.run_crawl`` over fixtures generated from the run's
seed. ``max_per_host`` equals the smallest per-window budget any host can
get (window 100 000 ms / the largest robots crawl delay 5 000 ms = 20), so
every host dequeues the same budget whatever delay the seed draws for it.
That keeps the dequeued-URL count, and so ``crawl_urls_per_s``, within
about 5% across seeds (about 2% between quartiles); a 100-per-host budget
let the two hot hosts' drawn delays swing the count by 14-16%.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    serp: int  # serp seed rows
    hosts: int  # host pool width (2 hot hosts carry ~30% of serp rows)
    images: int  # image table rows; fetch responses wrap image ids modulo this
    iterations: int
    crawl: dict = field(default_factory=dict)  # CrawlConfig overrides

    def crawl_config(self):
        from nightcrawler_ds_pipeline_spark.crawl.loop import CrawlConfig

        return CrawlConfig(iterations=self.iterations, **self.crawl)


_BUDGET = {"max_per_host": 20, "window_ms": 100_000}

WORKLOADS = {
    w.name: w
    for w in [
        Workload("crawl_small", serp=1_000, hosts=100, images=1_000, iterations=1,
                 crawl=dict(_BUDGET)),
        Workload("crawl_large", serp=3_000, hosts=300, images=1_500, iterations=2,
                 crawl=dict(_BUDGET, bloom_min_seen=1_000)),
    ]
}

# The untimed warm-up crawl's fixture. The first iteration in a JVM costs
# about 10 s more than a warm one whatever its size (100 URLs: 17.5 s cold,
# 7.8 s warm), so ~100 URLs warm the JVM, the Python workers and iteration
# 0's plans in less time than the workload's own fixture would.
WARMUP = Workload("warmup", serp=100, hosts=10, images=100, iterations=1)
