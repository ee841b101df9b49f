"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size knobs)``: plain Python
and numpy, no wall clock, no Spark. The seed moves link targets, prices and
texts; the shape (host count, pages per host, links per page, seed count)
depends on the size knobs only, so runs on different seeds do the same
amount of work.

Tables follow the engine's input contract (FIXTURES.md):
``pages(url, html: binary)``, ``seeds(url, priority, seq)``,
``robots(host, disallow_prefixes)``, ``politeness(host,
max_fetches_per_round)``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

_FILLER = " ".join(f"word{w}" for w in range(40))

#: href kinds of one crawl page, in document order. ``rel`` kinds are the
#: relative hrefs only ``urljoin`` resolves (neither absolute nor
#: root-relative) — the slow path of the outlink kernel.
LINK_SLOTS = (
    "root", "root", "rel", "rel", "rel", "cross", "cross_hot", "cross",
    "noncanon", "root", "query", "dup",
)
REL_SHARE = LINK_SLOTS.count("rel") / len(LINK_SLOTS)
HOT_BUDGET = 4
#: the crawl's ``CrawlConfig.default_budget`` for hosts without a row
DEFAULT_BUDGET = 16


@dataclass
class CrawlInputs:
    pages: list[tuple[str, bytes]]
    seeds: list[tuple[str, int, int]]
    robots: list[tuple[str, list[str]]]
    politeness: list[tuple[str, int]]
    rel_hrefs: int = 0
    hrefs: int = 0
    #: (category name, detail urls) of the jd families, in category order
    categories: list[tuple[str, list[str]]] = field(default_factory=list)

    def oracle_args(self) -> dict:
        return {
            "pages": {u: h.decode("utf-8") for u, h in self.pages},
            "seeds": list(self.seeds),
            "robots": {h: list(p) for h, p in self.robots},
            "budgets": dict(self.politeness),
        }


def _host(h: int) -> str:
    return f"w{h}.example"


def crawl_corpus(
    seed: int,
    n_hosts: int,
    base_pages: int,
    head_pages: int,
    seeds_per_host: int,
    jd_details_per_category: int = 0,
) -> CrawlInputs:
    """Zipf-host crawl corpus.

    Host ``h`` has ``base_pages + head_pages / sqrt(h + 1)`` pages, so host
    0 is hot and the tail is flat. Each page carries one href per entry of
    ``LINK_SLOTS``: same-host forward links (frontier growth), ``urljoin``
    relatives, cross-host links (uniform and hot-skewed), an upper-case
    ``:443`` form with a fragment (canonicalization), a back link, a
    ``?ref=`` variant (a fetch miss) and an in-page duplicate. A fifth of the
    hosts disallow ``/p/7`` in robots; the top tenth by size get
    ``HOT_BUDGET`` fetches per round, the rest ``DEFAULT_BUDGET``. Seeds are
    ``seeds_per_host`` pages of every host plus five dead URLs (fetch
    misses). With ``jd_details_per_category`` the jd families of
    :func:`jd_families` are added: their detail pages are seeds, and their
    host's budget fetches them all in one round.
    """
    rng = np.random.default_rng(seed)
    counts = [base_pages + int(head_pages / np.sqrt(h + 1)) for h in range(n_hosts)]
    n_pages = sum(counts)
    n_slots = len(LINK_SLOTS)
    # all random draws up front, vectorised, in a fixed order
    cross_t = rng.integers(0, n_hosts, size=(n_pages, n_slots))
    hot_t = (n_hosts * rng.random((n_pages, n_slots)) ** 3).astype(np.int64)
    pick = rng.random((n_pages, n_slots))
    revisit = rng.integers(0, 1 << 30, size=n_pages)

    pages: list[tuple[str, bytes]] = []
    hrefs = rel = 0
    row = 0
    for h in range(n_hosts):
        host, n = _host(h), counts[h]
        for i in range(n):
            links: list[str] = []
            for j, kind in enumerate(LINK_SLOTS):
                if kind == "root":
                    links.append(f"/p/{i + 1 + j % 3}" if j < 3 else f"/p/{max(i - 1, 0)}")
                elif kind == "rel":
                    k = len(links)
                    if k % 3 == 0:
                        links.append(f"../p/{i + 3}")
                    elif k % 3 == 1:
                        links.append(f"{i + 4}")
                    else:
                        links.append(f"./{int(revisit[row]) % n}")
                    rel += 1
                elif kind in ("cross", "cross_hot"):
                    t = int(hot_t[row, j] if kind == "cross_hot" else cross_t[row, j])
                    k = int(pick[row, j] * (counts[t] + 2))
                    links.append(f"https://{_host(t)}/p/{k}")
                elif kind == "noncanon":
                    links.append(f"HTTPS://W{h}.EXAMPLE:443/p/{i + 1}#top")
                elif kind == "query":
                    links.append(f"/p/{(i * 3 + 1) % n}?ref={h % 5}")
                else:  # dup of the first cross-host link
                    links.append(next((u for u in links if u.startswith("https://")), "/p/0"))
            hrefs += len(links)
            anchors = "".join(f'<a href="{u}">l{k}</a> ' for k, u in enumerate(links))
            html = (
                f"<html><head><title>{host} {i}</title></head><body>"
                f'<div id="mainframe"><h1>{host} page {i}</h1>'
                f"<p>{_FILLER} {int(revisit[row]) % 997}</p>{anchors}</div></body></html>"
            )
            pages.append((f"https://{host}/p/{i}", html.encode("utf-8")))
            row += 1

    seeds: list[tuple[str, int, int]] = []
    for h in range(n_hosts):
        for s in range(seeds_per_host):
            idx = (s * counts[h]) // seeds_per_host
            seeds.append((f"https://{_host(h)}/p/{idx}", 1 if len(seeds) % 10 == 9 else 0, len(seeds)))
    for j in range(3):
        seeds.append((f"https://dead{j}.example/", 0, len(seeds)))
    for j in range(2):
        seeds.append((f"https://{_host(0)}/missing/{j}", 0, len(seeds)))

    hosts = [_host(h) for h in range(n_hosts)]
    robots = [(hst, ["/p/7"] if h % 5 == 2 else []) for h, hst in enumerate(hosts)]
    n_hot = max(1, n_hosts // 10)
    politeness = [(hst, HOT_BUDGET if h < n_hot else DEFAULT_BUDGET) for h, hst in enumerate(hosts)]
    out = CrawlInputs(pages, seeds, robots, politeness, rel_hrefs=rel, hrefs=hrefs)
    if jd_details_per_category:
        jd = jd_families(seed, jd_details_per_category)
        out.pages += jd.pages
        out.categories = jd.categories
        for _, urls in jd.categories:
            out.seeds += [(u, 0, len(out.seeds) + k) for k, u in enumerate(urls)]
        out.politeness.append((JD_HOST, jd_details_per_category * len(jd.categories)))
    return out


# --- jd detail/funder pages ---------------------------------------------------

JD_CATEGORIES = (("10", "tech"), ("13", "charity"), ("38", "publish"))
JD_HOST = "z.example"
JD_DETAIL_URL = "https://z.example/project/details/{}.html"
JD_FUNDER_URL = "https://z.example/funderCenter.action?flag=2&id={}"


@dataclass
class JdFamilies:
    pages: list[tuple[str, bytes]]
    #: (category name, detail urls) in category order
    categories: list[tuple[str, list[str]]]


def _jd_detail(pid: int, rng: np.random.Generator) -> str:
    n_tiers = int(rng.integers(1, 6))
    prices = [int(rng.integers(1, 200)) * 10 for _ in range(n_tiers)]
    if n_tiers >= 2 and rng.random() < 0.4:
        prices[1] = prices[0]
    tiers = []
    for t, p in enumerate(prices):
        lottery = "抽奖档 " if (t == n_tiers - 1 and rng.random() < 0.3) else ""
        tiers.append(
            f"<!--price-box--><div>{lottery}tier {t} ￥<span> {p} </span> backers</div>"
            "<!--price-box end-->"
        )
    imgs = "".join(f'<img alt="im{k}" src="/i/{k}.png">' for k in range(int(rng.integers(0, 5))))
    return (
        f"<html><head><title>project {pid}</title></head><body>"
        f'<p class="p-title">Project {pid} {_FILLER[: 8 * int(rng.integers(1, 9))]}</p>'
        f"<!-- 档位 -->{''.join(tiers)}<!--price-box无私奉献--><div>donate</div>"
        f"<!--图片部分-->{imgs}<!--图片部分end-->"
        f"<div>{_FILLER}</div></body></html>"
    )


def _jd_funder(pid: int, rng: np.random.Generator) -> str:
    supported, started = int(rng.integers(0, 400)), int(rng.integers(0, 90))
    return (
        f"<html><head><title>funder {pid}</title></head><body>"
        f'<div id="mainframe"><div>header</div>'
        f"<div><div><div><div>meta</div>"
        f'<div><a href="#s"><i> {supported} </i></a><a href="#h"><i> {started} </i></a></div>'
        f"</div></div></div></div></body></html>"
    )


def jd_families(seed: int, details_per_category: int) -> JdFamilies:
    """The jd crowdfunding site of the reference example: per category,
    detail pages and the funder pages only the collector's follow-up fetch
    reaches (no page links them); one funder page in ten is missing (a
    follow-up miss)."""
    rng = np.random.default_rng(seed + 7)
    pages: list[tuple[str, bytes]] = []
    categories: list[tuple[str, list[str]]] = []
    pid = 1000 + int(rng.integers(0, 1000))
    for _code, name in JD_CATEGORIES:
        urls = []
        for _ in range(details_per_category):
            pid += 1 + int(rng.integers(0, 3))
            url = JD_DETAIL_URL.format(pid)
            urls.append(url)
            pages.append((url, _jd_detail(pid, rng).encode("utf-8")))
            if rng.random() >= 0.1:
                pages.append((JD_FUNDER_URL.format(pid), _jd_funder(pid, rng).encode("utf-8")))
        categories.append((name, urls))
    return JdFamilies(pages, categories)
