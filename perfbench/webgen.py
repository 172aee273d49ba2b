"""Seeded generator of Common-Crawl-style webs for the crawl benchmark.

A *web* is a pages table ``(url, warc_ts, html, text, lang)`` — the shape
``sources/pages.PAGES_SCHEMA`` documents — plus a seeds table
``(seed_idx, url)``.  ``text`` is the reference parser's output
(``refsim.parse_html``), so every page row carries its own oracle text.

Everything is a pure function of ``(WebSpec, seed)``: the same pair gives
byte-identical tables, another seed gives other tables (``self_check``).
The HTML and URL shapes are this file's own; nothing here reads the
package's test fixtures.

Input properties per workload (``SPECS``; ``python3 perfbench/webgen.py``
prints the realised shares):

* ``crawl_resume`` — 3k small pages (~2.3 KB) over 24 hosts, one hot host
  carrying half the pages; 12-16 hrefs per page, of which the first 10 reach
  the frontier (the parser keeps ``links[:10]``).  Link mix: ~74% canonical
  live links, ~12% messy variants of live urls (upper-case scheme and host,
  default port, dot segment, fragment, escaped unreserved char), ~6%
  relative, ~4% links to 4 dead hosts, ~4% missing pages on live hosts.
  Link targets are Zipf-skewed, so most candidates are rediscoveries.
  Seeds: 8 live pages per host, 5% dead, 5% duplicates.
* ``parse_heavy`` — 800 large pages (~21 KB: style and script blocks,
  entities, non-ASCII text, multi-space and tab runs) on 8 hosts, 4 hrefs
  each (~5% relative, ~5% dead hosts); 160 seeds.
"""

from __future__ import annotations

import hashlib
import io
import os
import random
import sys
from dataclasses import dataclass, field, replace
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from web_crawler_spark import refsim  # noqa: E402

GEN_VERSION = "g1"  # bump when any output byte of the generator changes

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
SEEDS_SCHEMA = pa.schema([("seed_idx", pa.int64()), ("url", pa.string())])


@dataclass(frozen=True)
class WebSpec:
    n_pages: int
    n_hosts: int
    hot_host_share: float  # share of pages on host 0
    hrefs_per_page: tuple[int, int]  # inclusive range
    messy_share: float  # absolute-but-non-canonical forms of live urls
    relative_share: float  # hrefs without authority (dead in both modes)
    dead_host_share: float  # absolute urls on hosts absent from the web
    missing_page_share: float  # absolute urls on live hosts, page absent
    popular_share: float  # share of live links aimed at the Zipf head
    paragraphs: tuple[int, int]  # body paragraphs per page (sets HTML size)
    heavy_html: bool  # script/style blocks, entities, large bodies
    n_seeds: int
    dup_seed_share: float
    dead_seed_share: float


SPECS: dict[str, WebSpec] = {
    "crawl_resume": WebSpec(
        n_pages=3_000, n_hosts=24, hot_host_share=0.5, hrefs_per_page=(12, 16),
        messy_share=0.12, relative_share=0.06, dead_host_share=0.04,
        missing_page_share=0.04, popular_share=0.6, paragraphs=(3, 6),
        heavy_html=False, n_seeds=192, dup_seed_share=0.05, dead_seed_share=0.05,
    ),
    "parse_heavy": WebSpec(
        n_pages=800, n_hosts=8, hot_host_share=0.25, hrefs_per_page=(4, 4),
        messy_share=0.0, relative_share=0.05, dead_host_share=0.05,
        missing_page_share=0.0, popular_share=0.0, paragraphs=(60, 110),
        heavy_html=True, n_seeds=240, dup_seed_share=0.05, dead_seed_share=0.05,
    ),
}

DEAD_HOSTS = 4  # hosts absent from the web (dead links and dead seeds)
_SECTIONS = ("news", "sport", "tech", "arts", "docs", "shop", "blog", "wiki")
_LANGS = ("en", "de", "fr", "vi", "ja")
_VOCAB = (
    "frontier crawler politeness budget harvest anchor fetch segment shard "
    "archive record header payload domain index ranking queue revisit "
    "freshness sitemap mirror canonical redirect robots latency throughput "
    "bucket sketch filter membership digest snapshot resume commit"
).split()
_FOREIGN = (
    "Straße", "façade", "naïve", "Crème brûlée", "日本語のテキスト", "tiếng Việt",
    "Ελληνικά", "Ünïcödé", "数据抓取", "ñandú",
)
_ENTITIES = ("&amp;", "&lt;", "&gt;", "&quot;", "&eacute;", "&#8217;", "&#x263A;", "&nbsp;", "&copy;")


def host_name(h: int) -> str:
    return "www.hub.test" if h == 0 else f"site{h}.test"


def page_url(h: int, i: int) -> str:
    return f"https://{host_name(h)}/{_SECTIONS[i % len(_SECTIONS)]}/item-{i}.html"


def messy_variant(rng: random.Random, url: str) -> str:
    """An absolute non-canonical spelling that canonicalizes back to ``url``."""
    rest = url[len("https://"):]
    host, path = rest.split("/", 1)
    kind = rng.randrange(5)
    if kind == 0:
        return f"HTTPS://{host.upper()}/{path}"
    if kind == 1:
        return f"https://{host}:443/{path}"
    if kind == 2:
        return f"https://{host}/{path.split('/', 1)[0]}/./{path.split('/', 1)[1]}"
    if kind == 3:
        return f"https://{host}/{path}#section-{rng.randrange(9)}"
    return f"https://{host}/{path.replace('item-', 'item%2D', 1)}"


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(n))


def _paragraph(rng: random.Random, heavy: bool) -> str:
    text = _words(rng, rng.randint(12, 40))
    if rng.random() < 0.3:
        cut = rng.randrange(1, len(text))
        text = text[:cut] + rng.choice(("  ", "   ", "\t \t", "\n  \n")) + text[cut:]
    if heavy:
        if rng.random() < 0.5:
            text += " " + rng.choice(_FOREIGN)
        if rng.random() < 0.5:
            text = rng.choice(_ENTITIES).join(text.split(" ", 1))
    return text


def _script(rng: random.Random) -> str:
    n = rng.randint(4, 12)
    lines = [f"  var v{k} = {rng.randrange(999)}; if (v{k} < {rng.randrange(999)}) {{ log('x < y && \"</p>\"'); }}" for k in range(n)]
    return "<script type=\"text/javascript\">\n" + "\n".join(lines) + "\n</script>"


def _style(rng: random.Random) -> str:
    rules = [f".c{k} > p {{ margin: {rng.randrange(20)}px; font: 12px/1.4 serif; }}" for k in range(rng.randint(4, 12))]
    return "<style>\n" + "\n".join(rules) + "\n</style>"


def make_html(rng: random.Random, spec: WebSpec, idx: int, host: str, hrefs: list[str], lang: str) -> str:
    out = [f'<!DOCTYPE html>\n<html lang="{lang}"><head><meta charset="utf-8">']
    r = rng.random()
    if r < 0.85:
        title = f"{host} #{idx}: {_words(rng, 3)}"
        if spec.heavy_html and rng.random() < 0.3:
            title += " &amp; " + rng.choice(_FOREIGN)
        out.append(f"<title>{title}</title>")
    elif r < 0.92:
        out.append("<title></title>")  # empty title -> .string is None
    if spec.heavy_html:
        out.append(_style(rng))
        out.append(_script(rng))
    out.append("</head>\n<body><header><nav>")
    n_nav = min(len(hrefs), rng.randint(2, 4))
    for k, href in enumerate(hrefs[:n_nav]):
        out.append(f'<a class="nav" href="{href}">menu {k}</a> |')
    out.append(f"</nav></header>\n<main><article><h1>{_words(rng, 4)}</h1>")
    body_links = hrefs[n_nav:]
    n_par = rng.randint(*spec.paragraphs)
    for p in range(n_par):
        out.append(f"<p>{_paragraph(rng, spec.heavy_html)}</p>")
        if spec.heavy_html and p % 25 == 12:
            out.append(_script(rng) if rng.random() < 0.5 else _style(rng))
        if body_links and rng.random() < 0.5:
            out.append(f'<p>read <a href="{body_links.pop(0)}">more</a> here</p>')
    for href in body_links:
        out.append(f'<p>see also <a href="{href}">{_words(rng, 2)}</a></p>')
    out.append("</article></main>\n<footer>&copy; 2024 " + host + "</footer></body></html>")
    return "\n".join(out)


@dataclass
class Web:
    pages: pa.Table
    seeds: pa.Table
    # url -> refsim.parse_html output, kept from generation so the oracle
    # crawl never parses a page twice
    parsed: dict[str, dict] = field(default_factory=dict, compare=False)

    def digest(self) -> str:
        h = hashlib.sha256()
        for t in (self.pages, self.seeds):
            buf = io.BytesIO()
            with pa.ipc.new_stream(buf, t.schema) as w:
                w.write_table(t)
            h.update(buf.getvalue())
        return h.hexdigest()

    def pages_map(self) -> dict[str, bytes]:
        return dict(zip(self.pages.column("url").to_pylist(), self.pages.column("html").to_pylist()))

    def seed_urls(self) -> list[str]:
        return self.seeds.column("url").to_pylist()


def generate(spec: WebSpec, seed: int) -> Web:
    rng = random.Random(f"webgen:{GEN_VERSION}:{seed}")
    n = spec.n_pages
    hosts = [0 if rng.random() < spec.hot_host_share else rng.randrange(1, spec.n_hosts) for _ in range(n)]
    urls = [page_url(hosts[i], i) for i in range(n)]
    # Zipf head: link popularity ~ 1/rank over a shuffled page order
    order = list(range(n))
    rng.shuffle(order)
    head = order[: max(1, n // 20)]
    head_w = [1.0 / (r + 1) for r in range(len(head))]
    epoch = datetime(2024, 3, 1, tzinfo=timezone.utc)

    col_url, col_ts, col_html, col_text, col_lang = [], [], [], [], []
    parsed = {}
    for i in range(n):
        hrefs = []
        for _ in range(rng.randint(*spec.hrefs_per_page)):
            r = rng.random()
            if r < spec.relative_share:
                hrefs.append(f"../{_SECTIONS[rng.randrange(8)]}/item-{rng.randrange(n)}.html")
                continue
            r -= spec.relative_share
            if r < spec.dead_host_share:
                hrefs.append(f"https://gone{rng.randrange(DEAD_HOSTS)}.test/{rng.randrange(n)}")
                continue
            r -= spec.dead_host_share
            if r < spec.missing_page_share:
                h = hosts[rng.randrange(n)]
                hrefs.append(f"https://{host_name(h)}/missing/item-{n + rng.randrange(n)}.html")
                continue
            if rng.random() < spec.popular_share:
                t = rng.choices(head, head_w)[0]
            else:
                t = rng.randrange(n)
            url = urls[t]
            if rng.random() < spec.messy_share / max(1e-9, 1 - spec.relative_share - spec.dead_host_share - spec.missing_page_share):
                url = messy_variant(rng, url)
            hrefs.append(url)
        lang = rng.choice(_LANGS)
        html = make_html(rng, spec, i, host_name(hosts[i]), hrefs, lang)
        col_url.append(urls[i])
        col_ts.append(epoch + timedelta(seconds=rng.randrange(86_400 * 30)))
        col_html.append(html.encode("utf-8"))
        parsed[urls[i]] = refsim.parse_html(urls[i], html)
        col_text.append(parsed[urls[i]]["text"])
        col_lang.append(lang)
    pages = pa.table([col_url, col_ts, col_html, col_text, col_lang], schema=PAGES_SCHEMA)

    # seeds: the same number of live pages on every host, dead seeds spread
    # evenly over the dead hosts, then duplicates; a fixed shape per host
    # keeps round sizes (under a host budget) the same from seed to seed
    by_host: dict[int, list[int]] = {}
    for i, h in enumerate(hosts):
        by_host.setdefault(h, []).append(i)
    per_host = spec.n_seeds // spec.n_hosts
    seed_urls = [urls[i] for h in sorted(by_host) for i in rng.sample(by_host[h], min(per_host, len(by_host[h])))]
    n_dead = round(spec.n_seeds * spec.dead_seed_share)
    seed_urls += [f"https://gone{k % DEAD_HOSTS}.test/seed-{k}" for k in range(n_dead)]
    seed_urls += [rng.choice(seed_urls) for _ in range(round(spec.n_seeds * spec.dup_seed_share))]
    rng.shuffle(seed_urls)
    seeds = pa.table([list(range(len(seed_urls))), seed_urls], schema=SEEDS_SCHEMA)
    return Web(pages, seeds, parsed)


def write(web: Web, out_dir: str, files: int = 8) -> None:
    """Parquet under ``out_dir/{pages,seeds}``; pages split into ``files``
    part files so the scan parallelizes."""
    pages_dir = os.path.join(out_dir, "pages")
    os.makedirs(pages_dir, exist_ok=True)
    n = web.pages.num_rows
    step = -(-n // files)
    for k in range(files):
        pq.write_table(web.pages.slice(k * step, step), os.path.join(pages_dir, f"part-{k:03d}.parquet"))
    os.makedirs(os.path.join(out_dir, "seeds"), exist_ok=True)
    pq.write_table(web.seeds, os.path.join(out_dir, "seeds", "part-000.parquet"))


def describe(web: Web) -> dict:
    """Realised input properties (host skew, link mix, HTML size)."""
    from collections import Counter

    from web_crawler_spark.functions.urlnorm import canonicalize_url

    urls = web.pages.column("url").to_pylist()
    live = set(urls)
    hosts = Counter(u.split("/")[2] for u in urls)
    n_links = messy = dead = relative = 0
    firsts = 0
    seen_targets: set[str] = set()
    redisc = 0
    for u, html in zip(urls, web.pages.column("html").to_pylist()):
        links = refsim.parse_html(u, html.decode("utf-8"))["links"]
        for href in links:
            n_links += 1
            c = canonicalize_url(href)
            if c is None:
                relative += 1
            elif c not in live:
                dead += 1
            elif c != href:
                messy += 1
            if c is not None:
                if c in seen_targets:
                    redisc += 1
                else:
                    seen_targets.add(c)
                    firsts += 1
    html_bytes = sum(len(h) for h in web.pages.column("html").to_pylist())
    return {
        "pages": len(urls),
        "hosts": len(hosts),
        "hot_host_share": round(hosts.most_common(1)[0][1] / len(urls), 3),
        "links_per_page": round(n_links / len(urls), 2),
        "messy_share": round(messy / max(1, n_links), 3),
        "dead_share": round(dead / max(1, n_links), 3),
        "relative_share": round(relative / max(1, n_links), 3),
        "rediscovery_share": round(redisc / max(1, redisc + firsts), 3),
        "html_kb_mean": round(html_bytes / len(urls) / 1024, 1),
        "seeds": web.seeds.num_rows,
    }


def self_check(spec: WebSpec, seed: int) -> None:
    """Same seed => byte-identical tables; another seed => different ones."""
    a, b, c = generate(spec, seed), generate(spec, seed), generate(spec, seed + 1)
    if a.digest() != b.digest():
        raise RuntimeError("webgen: same seed produced different tables")
    if a.digest() == c.digest():
        raise RuntimeError("webgen: different seeds produced identical tables")


def small(spec: WebSpec) -> WebSpec:
    """A 1/50-scale copy of ``spec`` for the per-run determinism check."""
    return replace(spec, n_pages=max(50, spec.n_pages // 50), n_seeds=max(5, spec.n_seeds // 50))


if __name__ == "__main__":
    import argparse
    import json

    ap = argparse.ArgumentParser(description="Describe the generated web of each workload.")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", choices=sorted(SPECS), action="append")
    args = ap.parse_args()
    for name in args.workload or sorted(SPECS):
        self_check(small(SPECS[name]), args.seed)
        print(name, json.dumps(describe(generate(SPECS[name], args.seed))))
