"""The crawl workloads: engine configuration, one closed-loop crawl
(one crawl job at a time through ``plans.crawl.ChainCrawl``), the reference
each crawl's output must match, and the checks."""

from __future__ import annotations

import os
import shutil
import time
import gc
from dataclasses import dataclass, replace

from web_crawler_spark import refsim
from web_crawler_spark.plans.crawl import ChainCrawl, CrawlConfig

import checks
import webgen


@dataclass(frozen=True)
class Workload:
    name: str
    spec: webgen.WebSpec
    mode: str  # 'scale' | 'parity'
    rounds: int
    host_budget: int | None = None
    bloom_min_seen: int = 500_000
    checkpointed: bool = False
    stop_after_round: int | None = None  # interrupt here, finish by resume


WORKLOADS = {
    # bloom engages in round 0 (bloom_min_seen is below the seed count); the
    # reference is the same crawl uninterrupted and with bloom off
    "crawl_resume": Workload(
        "crawl_resume", webgen.SPECS["crawl_resume"], "scale", rounds=2,
        host_budget=8, bloom_min_seen=16, checkpointed=True, stop_after_round=0,
    ),
    "parse_heavy": Workload("parse_heavy", webgen.SPECS["parse_heavy"], "parity", rounds=2),
}


@dataclass
class CrawlRun:
    """One crawl's timings and output."""

    wall_s: float
    round_s: list[float]  # per round, wall clock at round boundaries
    rounds: int
    urls: int  # sum of urls_processed
    cands: int  # links of ok pages in non-final rounds
    log: list[tuple]
    seen: set[str]
    resume_s: float | None = None
    ckpt_bytes: int = 0
    seen_files: int = 0
    seen_bytes: int = 0
    retained_mb: float = 0.0


class RoundClock:
    """The engine's between-round hook: stamps round boundaries and moves the
    calling thread to the next round's job group (or, in a traced run, the
    next round span)."""

    def __init__(self, reader, group_prefix: str | None, tracer=None):
        self.reader = reader
        self.prefix = group_prefix
        self.tracer = tracer
        self.marks: list[float] = []
        self._span = None
        self._enter(0)

    def _enter(self, round_idx: int) -> None:
        if self.tracer is not None:
            self._span = self.tracer.open("round", round=round_idx)
        elif self.prefix is not None:
            self.reader.set_group(f"{self.prefix}:r{round_idx}")

    def _leave(self) -> None:
        self.marks.append(time.perf_counter())
        if self._span is not None:
            self.tracer.close(self._span)

    def __call__(self, finished_round: int, state):
        self._leave()
        self._enter(finished_round + 1)
        return None  # inject nothing

    def finish(self) -> None:
        self._leave()
        if self.tracer is None and self.prefix is not None:
            self.reader.set_group(None)


def retained_storage_mb(spark, reader) -> float:
    """Spark block storage the crawl still holds at its end.  A Python and a
    JVM garbage collection first let Spark's context cleaner drop the blocks
    of frames nothing references; read at round boundaries without them, the
    figure followed the GC timing (42.9-56.3 MB on eight parse_heavy seeds)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)
    return reader.storage_mb()


def engine_config(w: Workload, work: str, bloom: bool = True, tag: str = "m") -> CrawlConfig:
    ckpt = os.path.join(work, f"ckpt-{tag}") if w.checkpointed else None
    if ckpt is not None:
        shutil.rmtree(ckpt, ignore_errors=True)
    return CrawlConfig(
        rounds=w.rounds,
        mode=w.mode,
        host_budget=w.host_budget,
        use_bloom=bloom,
        bloom_min_seen=w.bloom_min_seen,
        seen_buckets=1,
        seen_table=f"perfbench_seen_{tag}",
        checkpoint_dir=ckpt,
        cache_pages=False,  # the benchmark caches the pages table in set-up
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def run_crawl(spark, reader, w: Workload, pages, seeds, work: str, *,
              bloom: bool = True, interrupt: bool = True, tag: str = "m",
              group_prefix: str | None = None, tracer=None) -> CrawlRun:
    """One crawl, timed from engine construction to the end of the last round.
    ``interrupt`` (checkpointed workloads) stops after ``stop_after_round``
    and finishes with a fresh engine that resumes from the checkpoint."""
    cfg = engine_config(w, work, bloom=bloom, tag=tag)
    clock = RoundClock(reader, group_prefix, tracer)
    t0 = time.perf_counter()
    resume_s = None
    eng = ChainCrawl(spark, pages, cfg)
    stop = w.stop_after_round if (interrupt and w.stop_after_round is not None) else None
    state = eng.run(seeds, stop_after_round=stop, extra_urls_provider=clock)
    if stop is not None:
        eng.close()
        t_resume = time.perf_counter()
        if tracer:
            tracer.resuming = True
        eng = ChainCrawl(spark, pages, replace(cfg, resume=True))

        def resume_hook(r, st):
            nonlocal resume_s
            if resume_s is None:
                resume_s = time.perf_counter() - t_resume
                if tracer:
                    tracer.resuming = False
            return clock(r, st)

        state = eng.run(seeds, extra_urls_provider=resume_hook)
        if resume_s is None:
            resume_s = time.perf_counter() - t_resume
    wall = time.perf_counter() - t0
    clock.finish()
    if tracer:
        tracer.resuming = False

    retained_mb = retained_storage_mb(spark, reader)
    log = checks.log_rows(ChainCrawl.fetch_log(state))
    seen = {r["url"] for r in state.seen.select("url").distinct().collect()} if state.seen is not None else set()
    ckpt_bytes = _dir_bytes(cfg.checkpoint_dir) if cfg.checkpoint_dir else 0
    seen_dir = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), cfg.seen_table
    )
    seen_files = sum(len([f for f in fs if f.endswith(".parquet")]) for _d, _s, fs in os.walk(seen_dir))
    seen_bytes = _dir_bytes(seen_dir)
    eng.close()

    bounds = [t0] + clock.marks
    round_s = [b - a for a, b in zip(bounds, bounds[1:])]
    if stop is not None and len(round_s) > stop + 1:
        del round_s[stop + 1]  # the first resumed round carries the resume set-up
    final = w.rounds - 1
    cands = sum(len(r[7] or []) for r in log if r[3] and r[1] < final)
    return CrawlRun(
        wall_s=wall, round_s=round_s, rounds=len(state.metrics),
        urls=sum(m["urls_processed"] for m in state.metrics), cands=cands,
        log=log, seen=seen, resume_s=resume_s, ckpt_bytes=ckpt_bytes,
        seen_files=seen_files, seen_bytes=seen_bytes, retained_mb=retained_mb,
    )


def reference_log(w: Workload, web: webgen.Web) -> list[tuple] | None:
    """Oracle log for parity workloads: the reference's 1-worker chain crawl
    (``refsim.simulate_chain_crawl``), computed once per input.  Its steps
    parse with ``refsim.parse_html`` results kept from generation."""
    if w.mode != "parity":
        return None
    step = refsim.SimStep(parser=lambda url, _html: web.parsed[url])
    sim = refsim.simulate_chain_crawl(web.pages_map(), web.seed_urls(), steps=[step] * w.rounds)
    return checks.oracle_rows(sim)


def check(w: Workload, run: CrawlRun, reference: list[tuple]) -> set[int]:
    """Rounds of ``run`` that fail the workload's output checks."""
    bad = checks.same_log(run.log, reference)
    if w.mode == "scale":
        bad |= checks.scale_invariants(run.log, run.seen, w.host_budget)
    return bad
