"""Traced run: spans around the calls ``plans.crawl`` makes into each layer.

``Tracer.install()`` swaps each layer entry point the engine looks up at call
time for a wrapper; ``uninstall()`` restores the originals.  A wrapper

1. opens a span (name, start, end, parent, run id) with its own Spark job
   group, so status-store stage data can be billed to it afterwards;
2. materializes the frame the layer returns inside the span (an eager local
   checkpoint), so the layer's execution lands in its own span and not in
   whichever later action happens to pull it;
3. records row counts in a ``trace.probe`` child span, so probe jobs show up
   as tracing overhead rather than as layer time.

The engine inlines its fetch join, so ``fetch`` is the interval between the
batch being ordered (``with_global_seq`` returns) and the parse call.

Spans live in memory until ``write`` at the end of the run.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

from web_crawler_spark.functions import registry, urlnorm
from web_crawler_spark.operators import bloom as bloomlib
from web_crawler_spark.operators.seen_store import BucketedSeenStore
from web_crawler_spark.plans import crawl as crawl_mod
from web_crawler_spark.plans import schedule as schedule_mod
from web_crawler_spark.plans.checkpoint import Checkpointer

from sparkstats import GroupStats, StatusReader

# span name -> layer (module) it bills
LAYERS = {
    "select": "operators.politeness",
    "order": "operators.ordering",
    "fetch": "sources.pages",
    "parse": "functions.registry",
    "canon": "functions.urlnorm",
    "dedup": "plans.schedule",
    "dedup.anti_join": "operators.dedup",
    "dedup.first_wins": "operators.dedup",
    "bloom.prefilter": "operators.bloom",
    "bloom.build": "operators.bloom",
    "bloom.or": "operators.bloom",
    "seen.append": "operators.seen_store",
    "seen.df": "operators.seen_store",
    "seen.create": "operators.seen_store",
    "ckpt.commit": "plans.checkpoint",
    "ckpt.read": "plans.checkpoint",
    "ckpt.seen_rebuild": "plans.checkpoint",
    "round": "plans.crawl",
    "trace.probe": "tracing",
}


def _materialize(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


class Tracer:
    def __init__(self, reader: StatusReader, run_id: str):
        self.reader = reader
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self.resuming = False  # set by the harness around a resumed engine's set-up
        self.bloom_fill: float | None = None

    # -- spans -----------------------------------------------------------------

    def open(self, name: str, **attrs) -> dict:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.reader.set_group(self._group(rec["id"]))
        return rec

    def close(self, rec: dict) -> None:
        """Close ``rec`` and any span still open inside it."""
        while self._stack:
            top = self.spans[self._stack.pop()]
            top["end"] = time.perf_counter()
            if top is rec:
                break
        self.reader.set_group(self._group(self._stack[-1]) if self._stack else None)

    @contextmanager
    def span(self, name: str, **attrs):
        rec = self.open(name, **attrs)
        try:
            yield rec
        finally:
            self.close(rec)

    def top(self) -> dict | None:
        return self.spans[self._stack[-1]] if self._stack else None

    def _group(self, sid: int) -> str:
        return f"{self.run_id}:{sid}"

    # -- wrappers --------------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def install(self) -> None:
        t = self

        def select(orig):
            def w(frontier, *a, **k):
                with t.span("trace.probe"):
                    rows_in = frontier.count()
                with t.span("select", rows_in=rows_in) as s:
                    out = _materialize(orig(frontier, *a, **k))
                with t.span("trace.probe"):
                    host_col = k.get("host_col", "host")
                    top = out.groupBy(host_col).count().orderBy(F.desc("count")).first()
                    s["rows_out"] = out.count()
                    s["hot_rows"] = top["count"] if top else 0
                return out
            return w

        def order(orig):
            def w(df, *a, **k):
                with t.span("order"):
                    out = orig(df, *a, **k)  # already an eager checkpoint
                if k.get("out_col") == "pos":  # the round batch: fetch follows
                    t.open("fetch")
                return out
            return w

        def parse(orig):
            def w(df, *a, **k):
                top = t.top()
                if top is not None and top["name"] == "fetch":
                    t.close(top)
                with t.span("trace.probe"):
                    row = df.agg(
                        F.count("*").alias("rows"),
                        F.count("html").alias("pages"),
                        F.sum(F.length("html")).alias("html_b"),
                    ).first()
                with t.span("parse", rows=row["rows"], pages=row["pages"],
                            html_b=row["html_b"] or 0) as s:
                    out = _materialize(orig(df, *a, **k))
                with t.span("trace.probe"):
                    s["parsed_text"] = out.filter(
                        F.col("html").isNotNull() & F.col("parsed.text").isNotNull()
                    ).count()
                return out
            return w

        def canon(orig):
            def w(df, src_col="url", *a, **k):
                with t.span("trace.probe"):
                    row = df.agg(
                        F.count("*").alias("n"),
                        F.sum(urlnorm.fast_canonical_mask(src_col).cast("long")).alias("fast"),
                    ).first()
                with t.span("canon", rows_in=row["n"], fast=row["fast"] or 0) as s:
                    out = _materialize(orig(df, src_col, *a, **k))
                with t.span("trace.probe"):
                    s["nulls"] = out.filter(F.col(k.get("out_col", "url")).isNull()).count()
                return out
            return w

        def dedup(orig):
            def w(cand, seen, order_cols, bloom=None, *a, **k):
                with t.span("trace.probe"):
                    rows_in = cand.count()
                    redisc = (
                        cand.join(seen.select("url").distinct(), "url", "left_semi").count()
                        if seen is not None else 0
                    )
                with t.span("dedup", rows_in=rows_in, rediscovered=redisc,
                            bloom=bloom is not None) as s:
                    out = _materialize(orig(cand, seen, order_cols, bloom, *a, **k))
                with t.span("trace.probe"):
                    s["rows_out"] = out.count()
                return out
            return w

        def counted(name):
            def wrap(orig):
                def w(df, *a, **k):
                    with t.span(name) as s:
                        out = _materialize(orig(df, *a, **k))
                    with t.span("trace.probe"):
                        s["rows_in"] = df.count()
                        s["rows_out"] = out.count()
                    return out
                return w
            return wrap

        def prefilter(orig):
            def w(cand, sketch, *a, **k):
                with t.span("bloom.prefilter", engaged=sketch is not None) as s:
                    fresh, maybe = orig(cand, sketch, *a, **k)
                    fresh, maybe = _materialize(fresh), _materialize(maybe)
                with t.span("trace.probe"):
                    s["fresh"], s["maybe"] = fresh.count(), maybe.count()
                return fresh, maybe
            return w

        def plain(name, count_rows=False):
            def wrap(orig):
                def w(*a, **k):
                    with t.span(name) as s:
                        out = orig(*a, **k)
                        if count_rows:  # lazy read: run its scan inside the span
                            s["rows"] = out.count()
                    return out
                return w
            return wrap

        def or_with(orig):
            def w(self_, other):
                with t.span("bloom.or"):
                    out = orig(self_, other)
                t.bloom_fill = self_.fill_ratio()
                return out
            return w

        def seen_create(orig):
            def w(self_, urls):
                name = "ckpt.seen_rebuild" if t.resuming else "seen.create"
                with t.span(name):
                    return orig(self_, urls)
            return w

        def commit(orig):
            def w(self_, round_idx, tables, info=None):
                with t.span("ckpt.commit", round=round_idx):
                    return orig(self_, round_idx, tables, info)
            return w

        self._patch(crawl_mod, "select_host_budget_batch", select)
        self._patch(crawl_mod, "with_global_seq", order)
        self._patch(registry, "with_parsed_by", parse)
        self._patch(crawl_mod, "with_canonical_split", canon)
        self._patch(crawl_mod, "dedup_unseen", dedup)
        self._patch(schedule_mod, "anti_join_seen", counted("dedup.anti_join"))
        self._patch(schedule_mod, "first_wins", counted("dedup.first_wins"))
        self._patch(schedule_mod, "sketch_prefilter", prefilter)
        self._patch(bloomlib, "build_bloom", plain("bloom.build"))
        self._patch(bloomlib.ShardedBloom, "or_with", or_with)
        self._patch(BucketedSeenStore, "append", plain("seen.append"))
        self._patch(BucketedSeenStore, "df", plain("seen.df"))
        self._patch(BucketedSeenStore, "create", seen_create)
        self._patch(Checkpointer, "commit_round", commit)
        self._patch(Checkpointer, "read", plain("ckpt.read", count_rows=True))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- attribution -----------------------------------------------------------

    def attribute(self) -> None:
        """Bill status-store stage totals to the span whose job group ran them."""
        self.reader.drain()
        stats = self.reader.by_group(f"{self.run_id}:")
        for rec in self.spans:
            st = stats.get(self._group(rec["id"]), GroupStats())
            rec["stats"] = {
                "jobs": st.jobs, "stages": st.stages, "tasks": st.tasks,
                "failed_tasks": st.failed_tasks, "run_ms": st.run_ms, "gc_ms": st.gc_ms,
                "shuffle_write_b": st.shuffle_write_b, "shuffle_read_b": st.shuffle_read_b,
                "input_b": st.input_b,
            }
        children = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None:
                children[rec["parent"]] += rec["end"] - rec["start"]
        for rec in self.spans:
            rec["self_s"] = (rec["end"] - rec["start"]) - children[rec["id"]]

    def subtree_stats(self, rec: dict) -> dict:
        """Stage totals of ``rec`` plus its descendants (probes excluded)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        total = defaultdict(int)
        todo = [rec]
        while todo:
            s = todo.pop()
            if s["name"] == "trace.probe":
                continue
            for k, v in s["stats"].items():
                total[k] += v
            todo.extend(kids[s["id"]])
        return total

    def self_time_table(self) -> list[tuple[str, str, int, float, float]]:
        """(span name, layer, calls, inclusive s, self s) per span name."""
        agg: dict[str, list] = {}
        for rec in self.spans:
            a = agg.setdefault(rec["name"], [0, 0.0, 0.0])
            a[0] += 1
            a[1] += rec["end"] - rec["start"]
            a[2] += rec["self_s"]
        return sorted(
            ((n, LAYERS.get(n, "?"), c, incl, slf) for n, (c, incl, slf) in agg.items()),
            key=lambda r: -r[4],
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
