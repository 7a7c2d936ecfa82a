"""crawl_loop: the in-memory generation loop from seeds.

Each operation is one ``CrawlPlan.run`` from the seed table with no
checkpoint directory, for one generation: prepare the frontier, schedule
it, fetch, fan out links, run the fused dedup + seen + robots +
politeness cogroup that builds the next generation's frontier, mint
priorities and cut lineage. One generation is every step of the loop; a
second one mostly repeats the same fixed cost (8-13 s on a 4-vCPU VM),
and the check already covers the next generation's schedule. Fetch
failures (``fail_mod`` and
attempt-dependent ``transient_fail_mod``), bounded requeue
(``max_retries``) and the lifetime per-host quota
(``total_budget_per_host``) are all on.

At this size the loop is bound by its fixed per-generation cost (driver
jobs, stage barriers, Python worker round-trips), not by the URLs it
moves, which is the cost this workload exists to expose.

Every operation is checked against ``oracle.serial_crawler.crawl_serial``
on the same web, seeds and config: crawl order, fetch outcomes, the
seen-set, the totals and the next generation's schedule.
"""

from __future__ import annotations

import time

import numpy as np

from crawlers_spark.operators.seen_set import BloomParams, build_bucket_filters
from crawlers_spark.plans.crawl import CrawlConfig, CrawlPlan
from crawlers_spark.sources.synthweb import SynthWebConfig, make_seed_urls
from oracle.serial_crawler import crawl_serial

# web size: every generation schedules about a hundred fetches, and the
# serial oracle stays near one second
SIZES = {
    "full": {"n_hosts": 32, "base_pages": 100, "n_seeds": 128, "quota": 60},
    # a quota this small binds within two generations
    "smoke": {"n_hosts": 12, "base_pages": 40, "n_seeds": 32, "quota": 12},
}
# one generation per operation
GENERATIONS = 1
TRANSIENT_FAIL_MOD = 7
MAX_RETRIES = 2
# one Python task per host bucket per stage: at the default 32 buckets a
# generation is ~236 tasks and ~20 s on a 4-vCPU VM, 8 buckets keep a
# whole run (cold JVM, warm-up, timed generation) near one minute
N_HOST_BUCKETS = 8


class CrawlLoop:
    name = "crawl_loop"
    items = "scheduled fetches"
    summary_names = {"op_p50_s": "gen_latency_p50_s", "items_per_s": "crawl_urls_per_s"}
    # half of a generation's CPU is Python workers, which the first
    # operation warms; the JVM share keeps falling for a few more, but
    # one timed generation after one warm-up already repeats within ~6 %
    warm_up_ops = 1

    def __init__(self, seed: int, spans, smoke: bool = False):
        size = SIZES["smoke" if smoke else "full"]
        self.web = SynthWebConfig(
            n_hosts=size["n_hosts"], base_pages=size["base_pages"],
            transient_fail_mod=TRANSIENT_FAIL_MOD, seed=seed,
        )
        self.cfg = CrawlConfig(
            web=self.web,
            bloom=BloomParams.size_for(50_000, n_buckets=N_HOST_BUCKETS),
            n_host_buckets=N_HOST_BUCKETS,
            max_generations=GENERATIONS,
            max_retries=MAX_RETRIES,
            total_budget_per_host=size["quota"],
        )
        self.seeds_pdf = make_seed_urls(self.web, size["n_seeds"])
        self.spans = spans
        # (crawl_log, seen hashes, final frontier, totals) per timed crawl
        self.results: list[tuple] = []
        self._last = None
        self.bloom_build_s: list[float] = []

    def build_state(self, spark):
        """The seed table as a Spark frame (the crawl's only input)."""
        seeds = spark.createDataFrame(self.seeds_pdf)
        seeds.count()
        return seeds

    def _crawl(self, spark, seeds):
        with self.spans.span("plans.crawl.run"):
            self._last = CrawlPlan(spark, self.cfg).run(seeds)
        return self._last

    def warm_up(self, spark, seeds) -> None:
        """The operation once, untimed: every stage of the loop compiled."""
        self._crawl(spark, seeds)
        # the crawl leaves its prepared frontier persisted; a later crawl
        # of the same seeds would read it from the cache
        spark.catalog.clearCache()

    def op(self, spark, seeds) -> int:
        """One crawl from the seeds; returns the fetches it scheduled."""
        return self._crawl(spark, seeds).total_scheduled

    def after_op(self, spark) -> None:
        """Untimed: keep what the check needs while the session is live,
        then drop what the crawl left cached so the next one starts cold."""
        res = self._last
        log = res.crawl_log.toPandas().sort_values(["generation", "priority"], kind="stable")
        seen = set(res.seen_exact.toPandas()["url_hash"].astype(np.int64).tolist())
        nxt = {(r["url_canon"], r["priority"]) for r in res.frontier_final.collect()}
        self.results.append((log, seen, nxt, (res.total_scheduled, res.total_fetched)))
        if self.spans.enabled:
            # per-layer only: the seen_set layer's Bloom build over this
            # crawl's seen-set, called from outside the loop
            t0 = time.perf_counter()
            with self.spans.span("operators.seen_set.build_bucket_filters"):
                build_bucket_filters(res.seen_exact, self.cfg.bloom).count()
            self.bloom_build_s.append(time.perf_counter() - t0)
        spark.catalog.clearCache()

    def check(self) -> tuple[list[str], int]:
        """(problems, timed crawls whose output was wrong)."""
        kw = dict(max_retries=MAX_RETRIES,
                  total_budget_per_host=self.cfg.total_budget_per_host)
        ora = crawl_serial(self.web, self.seeds_pdf, max_generations=GENERATIONS, **kw)
        orl = ora.crawl_log.sort_values("order_rank")
        want_seen = {int(h) for h in ora.seen_hashes}
        want_totals = (len(orl), int(orl["ok"].sum()))
        # one generation further: its schedule must sit in the crawl's
        # final frontier with the same minted priorities (requeued
        # retries and the quota decide which rows that is)
        nxt = crawl_serial(self.web, self.seeds_pdf, max_generations=GENERATIONS + 1,
                           **kw).crawl_log
        nxt = nxt[nxt["generation"] == GENERATIONS]
        want_next = set(zip(nxt["url_canon"], nxt["priority"].astype(int)))
        problems, failed = [], 0
        for i, (log, seen, frontier, totals) in enumerate(self.results):
            bad = [f"crawl_log.{c}" for c in ("url_canon", "generation", "ok")
                   if log[c].tolist() != orl[c].tolist()]
            if not want_next <= frontier:
                bad.append("next generation's schedule")
            if seen != want_seen:
                bad.append("seen-set")
            if totals != want_totals:
                bad.append(f"totals {totals} != {want_totals}")
            problems += [f"crawl {i}: {b} differs from the serial oracle" for b in bad]
            failed += bool(bad)
        return problems, failed

    def layer_report(self, digests: list[dict]) -> dict:
        """The loop's own per-layer names for the traced crawls (an
        operation is one generation, so ``op.*`` are the per-generation
        loop counters)."""
        n = max(len(digests), 1)
        scope = lambda s: sum(d["by_scope_s"].get(s, 0.0) for d in digests) / n  # noqa: E731
        totals = [r[-1] for r in self.results][-len(digests):]
        return {
            "fetch.task_s_per_gen": scope("MapInPandas"),
            "fetch.ok_ratio": sum(f for _, f in totals) / max(sum(s for s, _ in totals), 1),
            "fused.task_s_per_gen": scope("FlatMapCoGroupsInArrow"),
            "canon.task_s_per_gen": scope("MapInArrow"),
            "bloom.build_s": sum(self.bloom_build_s) / max(len(self.bloom_build_s), 1),
        }
