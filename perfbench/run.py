"""Crawl benchmark of record for ``web_crawler_spark``.

    python3 perfbench/run.py --workload crawl_resume --seed 1 --seconds 5 --trace 0

Generates the workload's web from ``--seed`` (webgen.py), starts a local
Spark session, caches the tables, runs one untimed warm-up crawl and, for
the scale workload, the reference crawl; then runs closed-loop crawls — one
crawl job at a time, the next when the previous finishes — until
``--seconds`` have passed, checking every crawl's output.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one untraced
crawl, then traced and untraced crawls in turn (spans.py), and prints the
per-layer metrics.
Human-readable lines go first; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  A failed output check
prints ``correct: false`` and exits 1.  See NOTES.md for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import webgen  # noqa: E402  (imports web_crawler_spark; fails without the package)
import workloads as wl  # noqa: E402
from sparkstats import StatusReader  # noqa: E402
from spans import LAYERS, Tracer  # noqa: E402

SLOTS = min(4, os.cpu_count() or 1)
PARTITIONS = 1  # shuffle partitions: a round moves a few hundred URLs, and more
# partitions only add per-task overhead (2 and 4 measured slower and noisier)
TABLE_CACHE_REPS = 3


def median(xs):
    return statistics.median(xs) if xs else 0.0


def start_session(work: str):
    """Local session with every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    from web_crawler_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{SLOTS}]",
        shuffle_partitions=PARTITIONS,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "10",
        },
    )
    start_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores stdin EOF is killed
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def cache_tables(spark, data_dir: str):
    """Read the generated tables and pin them in Spark's cache."""
    t = time.perf_counter()
    pages = spark.read.parquet(os.path.join(data_dir, "pages")).select("url", "html").cache()
    seeds = spark.read.parquet(os.path.join(data_dir, "seeds")).cache()
    pages.count()
    seeds.count()
    return pages, seeds, time.perf_counter() - t


def crawl_counts(reader: StatusReader, prefix: str, runs: dict, w) -> dict:
    """Exact per-round job/stage/task counts and executor figures from the
    job group the round clock set on each round."""
    reader.drain()
    groups = reader.by_group(prefix)
    jobs = stages = tasks = failed = run_ms = shuffle_w = 0
    n_rounds, wall = 0, 0.0
    for ci, run in runs.items():
        resumed_first = (w.stop_after_round + 1) if w.stop_after_round is not None else None
        for r, sec in zip((x for x in range(run.rounds) if x != resumed_first), run.round_s):
            st = groups.get(f"{prefix}c{ci}:r{r}")
            if st is None:
                continue
            n_rounds += 1
            wall += sec
            jobs += st.jobs
            stages += st.stages
            tasks += st.tasks
            failed += st.failed_tasks
            run_ms += st.run_ms
            shuffle_w += st.shuffle_write_b
    n = max(1, n_rounds)
    return {
        "crawl.jobs_per_round": jobs / n,
        "crawl.stages_per_round": stages / n,
        "crawl.tasks_per_round": tasks / n,
        "crawl.executor_busy_share": (run_ms / 1000) / (wall * SLOTS) if wall else 0.0,
        "crawl.shuffle_write_mb_per_round": shuffle_w / 1e6 / n,
        "crawl.failed_tasks": failed,
        "_rounds_counted": n_rounds,
    }


def layer_metrics(tracer, runs: list, setup: dict) -> dict:
    """Per-layer metrics from the traced crawls' spans (per-crawl means)."""
    n = max(1, len(runs))
    sp = tracer.spans

    def total(name, key=None):
        recs = [s for s in sp if s["name"] == name]
        if key is None:
            return sum(s["end"] - s["start"] for s in recs)
        return sum(s.get(key) or 0 for s in recs)

    def sub(name, key):
        return sum(tracer.subtree_stats(s)[key] for s in sp if s["name"] == name)

    m = {}
    m["session.start_s"] = setup["session_s"]
    m["pages.cache_s"] = setup["cache_s"]
    m["select.s"] = total("select") / n
    m["select.rows_in"] = total("select", "rows_in") / n
    m["select.rows_out"] = total("select", "rows_out") / n
    m["select.hot_host_share"] = total("select", "hot_rows") / max(1, total("select", "rows_out"))
    m["order.s"] = total("order") / n
    m["fetch.s"] = total("fetch") / n
    urls = sum(r.urls for r in runs)
    oks = sum(1 for r in runs for row in r.log if row[3])
    m["fetch.hit_ratio"] = oks / max(1, urls)
    m["fetch.shuffle_mb"] = sub("fetch", "shuffle_write_b") / 1e6 / n
    m["parse.s"] = total("parse") / n
    m["parse.pages"] = total("parse", "pages") / n
    m["parse.html_mb"] = total("parse", "html_b") / 1e6 / n
    parse_busy = sub("parse", "run_ms") / 1000
    m["parse.mb_per_busy_s"] = (total("parse", "html_b") / 1e6) / parse_busy if parse_busy else 0.0
    m["parse.ok_ratio"] = total("parse", "parsed_text") / max(1, total("parse", "pages"))
    m["canon.s"] = total("canon") / n
    m["canon.rows_in"] = total("canon", "rows_in") / n
    m["canon.fast_path_share"] = total("canon", "fast") / max(1, total("canon", "rows_in"))
    m["canon.null_share"] = total("canon", "nulls") / max(1, total("canon", "rows_in"))
    m["dedup.s"] = total("dedup") / n
    m["dedup.rows_in"] = total("dedup", "rows_in") / n
    m["dedup.rows_out"] = total("dedup", "rows_out") / n
    m["dedup.rediscovery_share"] = total("dedup", "rediscovered") / max(1, total("dedup", "rows_in"))
    m["dedup.shuffle_mb"] = sub("dedup", "shuffle_write_b") / 1e6 / n
    m["bloom.build_s"] = total("bloom.build") / n
    m["bloom.or_s"] = total("bloom.or") / n
    pre = [s for s in sp if s["name"] == "bloom.prefilter" and s.get("engaged")]
    fresh = sum(s.get("fresh") or 0 for s in pre)
    maybe = sum(s.get("maybe") or 0 for s in pre)
    m["bloom.definitely_new_share"] = fresh / max(1, fresh + maybe)
    # anti-joins under a bloom-engaged dedup see only maybe-seen rows
    bloom_dedups = {s["id"] for s in sp if s["name"] == "dedup" and s.get("bloom")}
    aj = [s for s in sp if s["name"] == "dedup.anti_join" and s["parent"] in bloom_dedups]
    m["bloom.fp_rate"] = sum(s.get("rows_out") or 0 for s in aj) / max(1, sum(s.get("rows_in") or 0 for s in aj))
    m["bloom.fill_ratio"] = tracer.bloom_fill or 0.0
    m["seen.append_s"] = total("seen.append") / n
    m["seen.files"] = median([r.seen_files for r in runs])
    m["seen.mb"] = median([r.seen_bytes / 1e6 for r in runs])
    m["ckpt.commit_s"] = total("ckpt.commit") / n
    rounds = sum(r.rounds for r in runs)
    m["ckpt.mb_per_round"] = sum(r.ckpt_bytes for r in runs) / 1e6 / max(1, rounds)
    m["ckpt.read_s"] = total("ckpt.read") / n
    m["ckpt.seen_rebuild_s"] = total("ckpt.seen_rebuild") / n
    m["ckpt.resume_s"] = median([r.resume_s for r in runs if r.resume_s is not None])
    m["ckpt.bytes_per_url"] = sum(r.ckpt_bytes for r in runs) / max(1, urls)
    self_by_layer: dict[str, float] = {}
    for name, layer, _calls, _incl, self_s in tracer.self_time_table():
        self_by_layer[layer] = self_by_layer.get(layer, 0.0) + self_s
    for layer in sorted(set(LAYERS.values())):
        m["self_s." + layer] = self_by_layer.get(layer, 0.0) / n
    return m


def load_contract() -> tuple[dict, dict]:
    """Metric name -> unit for the end-to-end and the per-layer sets."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def measure(args, w, work: str) -> tuple[dict, int, int, list[str]]:
    """Returns (metrics, attempted rounds, failed rounds, report lines)."""
    report: list[str] = []
    t = time.perf_counter()
    webgen.self_check(webgen.small(w.spec), args.seed)
    web = webgen.generate(w.spec, args.seed)
    data = os.path.join(work, "data")
    webgen.write(web, data)
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    reference = wl.reference_log(w, web)
    oracle_s = time.perf_counter() - t
    report.append(f"input  {w.name} seed={args.seed} digest={web.digest()[:16]} "
                  f"pages={web.pages.num_rows} seeds={web.seeds.num_rows} "
                  f"gen_s={gen_s:.2f} oracle_s={oracle_s:.2f} (excluded from setup_s)")

    spark, session_s = start_session(work)
    try:
        reader = StatusReader(spark)
        cache_s = []
        pages = seeds = None
        for _ in range(TABLE_CACHE_REPS):
            if pages is not None:
                pages.unpersist(blocking=True)
                seeds.unpersist(blocking=True)
            pages, seeds, s = cache_tables(spark, data)
            cache_s.append(s)
        # warm-up: the scale workload's reference configuration (bloom off,
        # uninterrupted), so the warm-up also yields its reference log
        warm = wl.run_crawl(spark, reader, w, pages, seeds, work,
                            bloom=False, interrupt=False, tag="warm")
        if reference is None:
            reference = warm.log
        setup = {"session_s": session_s, "cache_s": median(cache_s)}
        setup_s = session_s + median(cache_s) + warm.wall_s
        report.append(f"setup  session_s={session_s:.2f} cache_s(median of {len(cache_s)})="
                      f"{median(cache_s):.2f} warmup_s={warm.wall_s:.2f} setup_s={setup_s:.2f}")

        # trace 0: untraced crawls.  trace 1: untraced and traced crawls
        # alternate, starting untraced
        runs, attempted, failed = [], 0, 0
        traced_runs, tracer = [], Tracer(reader, "trace") if args.trace else None
        deadline = time.perf_counter() + args.seconds
        ci = 0
        while True:
            traced = args.trace and ci % 2 == 1
            if traced:
                tracer.install()
            attempted += w.rounds
            try:
                run = wl.run_crawl(spark, reader, w, pages, seeds, work, tag=f"c{ci}",
                                   group_prefix=None if traced else f"bench:c{ci}",
                                   tracer=tracer if traced else None)
            except Exception:  # noqa: BLE001 - a crawl that raises fails all its rounds
                traceback.print_exc()
                failed += w.rounds
                run = None
            finally:
                if traced:
                    tracer.uninstall()
            if run is not None:
                failed += len(wl.check(w, run, reference))
                (traced_runs if traced else runs).append((ci, run))
            ci += 1
            if time.perf_counter() >= deadline and (not args.trace or ci >= 2):
                break
        runs_by_ci = dict(runs)
        traced_runs = [r for _c, r in traced_runs]
        runs = [r for _c, r in runs]

        def rate(rs, attr):
            return median([getattr(r, attr) / r.wall_s for r in rs])

        rounds = [s for r in runs for s in r.round_s]
        m = {
            "setup_s": setup_s,
            "crawl_urls_per_s": rate(runs, "urls"),
            "round_s_p50": median(rounds),
            "sched_cands_per_s": rate(runs, "cands"),
            "cached_mb": median([r.retained_mb for r in runs]),
        }
        counts = crawl_counts(reader, "bench:", runs_by_ci, w)
        resume = [r.resume_s for r in runs if r.resume_s is not None]
        urls = sum(r.urls for r in runs)
        report.append(f"crawls {len(runs)} untraced, {len(traced_runs)} traced; "
                      f"rounds per crawl={w.rounds}; round samples={len(rounds)}; "
                      f"urls per crawl={urls / max(1, len(runs)):.0f}")
        report.append(f"extra  resume_s={median(resume):.3f} s (n={len(resume)})  "
                      f"ckpt_bytes_per_url={sum(r.ckpt_bytes for r in runs) / max(1, urls):.1f} B/URL  "
                      f"failed_ops_share={failed / max(1, attempted):.3f} ratio (n={attempted})"
                      if w.checkpointed else
                      f"extra  failed_ops_share={failed / max(1, attempted):.3f} ratio (n={attempted})")
        report.append("counts " + " ".join(
            f"{k}={v:.4g}" for k, v in counts.items() if not k.startswith("_"))
            + f" (rounds counted={counts['_rounds_counted']})")
        if args.trace:
            tracer.attribute()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            span_path = os.path.join(out_dir, f"spans-{w.name}-{args.seed}.jsonl")
            tracer.write(span_path)
            lm = layer_metrics(tracer, traced_runs, setup)
            lm.update({k: v for k, v in counts.items() if not k.startswith("_")})
            traced_rate, untraced_rate = rate(traced_runs, "urls"), rate(runs, "urls")
            lm["trace.overhead_urls_per_s"] = untraced_rate - traced_rate
            lm["trace.overhead_share"] = (
                lm["trace.overhead_urls_per_s"] / untraced_rate if untraced_rate else 0.0
            )
            report.append(f"spans  {len(tracer.spans)} written to {os.path.relpath(span_path, ROOT)}")
            report.append("self time per span (traced crawls, summed):")
            report.append(f"  {'span':<20} {'layer':<22} {'calls':>5} {'incl_s':>8} {'self_s':>8}")
            for name, layer, calls, incl, self_s in tracer.self_time_table():
                report.append(f"  {name:<20} {layer:<22} {calls:>5} {incl:>8.3f} {self_s:>8.3f}")
            report.append(f"tracing overhead: untraced {untraced_rate:.1f} URLs/s, "
                          f"traced {traced_rate:.1f} URLs/s, overhead "
                          f"{lm['trace.overhead_urls_per_s']:.1f} URLs/s "
                          f"({100 * lm['trace.overhead_share']:.1f}%)")
            m.update(lm)
        return m, attempted, failed, report
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    e2e_units, layer_units = load_contract()
    w = wl.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{w.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        m, attempted, failed, report = measure(args, w, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = layer_units if args.trace else e2e_units
    for line in report:
        print(line)
    print(f"metrics ({'per-layer, traced run' if args.trace else 'end-to-end, untraced'}):")
    for name, unit in units.items():
        print(f"  {name:<36} {m[name]:>14.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": m[name], "unit": unit} for name, unit in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
