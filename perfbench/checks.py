"""Output checks.  Each check returns the set of rounds it found wrong, so a
failure is counted per attempted round (``failed_ops_share``)."""

from __future__ import annotations

from collections import Counter

from web_crawler_spark.functions.urlnorm import canonicalize_url

LOG_COLS = ("fetch_seq", "round", "url", "ok", "title", "text", "links_count", "links")


def log_rows(df) -> list[tuple]:
    """A fetch log frame as tuples in ``LOG_COLS`` order, by fetch_seq."""
    rows = df.select(*LOG_COLS).collect()
    out = [tuple(r[c] for c in LOG_COLS) for r in rows]
    return sorted(out, key=lambda t: t[0])


def oracle_rows(sim) -> list[tuple]:
    """``refsim.simulate_chain_crawl`` records as ``LOG_COLS`` tuples; the
    parsed fields come from each record's parser output."""
    out = []
    for r in sim.records:
        d = r.data if r.ok else {}
        out.append((r.fetch_seq, r.round, r.url, r.ok, d.get("title"), d.get("text"),
                    d.get("links_count"), d.get("links")))
    return out


def same_log(got: list[tuple], want: list[tuple]) -> set[int]:
    """Rounds whose rows differ (order, ok flag, title, text or links)."""
    bad = set()
    for g, w in zip(got, want):
        if g != w:
            bad.add(w[1])
            bad.add(g[1])
    for extra in got[len(want):] + want[len(got):]:
        bad.add(extra[1])
    return bad


def scale_invariants(log: list[tuple], seen: set[str], budget: int) -> set[int]:
    """Scale-mode invariants (the crawls run with ``max_retries=0``):
    no url fetched twice, every fetched url canonical, no host over its
    budget in a round, ``fetch_seq`` dense from 0, every fetched url in the
    seen set."""
    bad = set()
    first_round: dict[str, int] = {}
    per_host = Counter()
    for i, (seq, rnd, url, *_rest) in enumerate(log):
        if seq != i:
            bad.add(rnd)
        if url in first_round:
            bad.add(rnd)
        first_round.setdefault(url, rnd)
        if canonicalize_url(url) != url:
            bad.add(rnd)
        if url not in seen:
            bad.add(rnd)
        per_host[(rnd, url.split("/")[2])] += 1
    for (rnd, _host), n in per_host.items():
        if n > budget:
            bad.add(rnd)
    return bad
