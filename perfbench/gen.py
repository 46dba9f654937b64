"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload parameters, seed): the same
seed writes byte-identical files, a different seed writes different
ones.  Nothing here imports Spark — the files are written with pyarrow
so the sequential oracle reads exactly what the engine reads.

Crawl inputs (``crawl_inputs``) follow the fixture schema the engine's
``driver.run_crawl`` consumes:

  pages.parquet        url, warc_ts, html, text, lang — 1 or 2 captures
                       per url; the older capture carries different text,
                       so only the as-of-latest join yields the stored text
  seeds.json           canonical seed urls (some dangling)
  robots.parquet       host, content — raw RFC 9309 robots.txt bodies
  host_budget.parquet  host, budget — per-round politeness budget

Html is rendered with ``spec.render_html``, so ``spec.extract_text`` of
a page's latest capture equals the ``text`` column of that capture.

Curation inputs (``curate_inputs``) write one ``documents.parquet``
(doc_id, text, lang, source) built from ``functions.langid``'s embedded
seed vocabularies, with planted exact duplicates, near-duplicates,
repetitive documents and low-quality documents.
"""

from __future__ import annotations

import bisect
import json
import os
import random
from dataclasses import asdict, dataclass
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from storm_focused_crawler_spark import spec

TLDS = ("com", "org", "net")
BASE_TS = datetime(2024, 1, 1)
BUDGETS = (2, 5)  # per-host politeness budget, uniform on this range
PAGE_WORDS = (20, 60)  # words per crawl page, uniform on this range
TOPIC_WORDS = (
    "spark", "join", "window", "hash", "merge", "sort", "scan", "filter",
    "vector", "stream", "batch", "query",
)


@dataclass(frozen=True)
class CrawlParams:
    """Stated generator parameters of one crawl corpus."""

    n_hosts: int
    zipf_a: float  # host popularity skew (page → host draw)
    n_pages: int
    fanout: float  # mean outlinks per page (uniform on [0, 2·fanout])
    dangling_share: float  # outlinks to urls absent from the corpus (404s)
    noncanonical_share: float  # outlinks spelled in a non-canonical form
    n_seeds: int
    seed_dangling_share: float
    robots_share: float  # hosts serving a robots.txt body
    crawl_delay_share: float  # of those, bodies with a Crawl-delay line


@dataclass(frozen=True)
class CurateParams:
    """Stated generator parameters of one documents table."""

    n_base: int  # distinct clean documents (all languages)
    en_share: float  # of base documents, English (the kept language)
    exact_dup_share: float  # extra verbatim copies, of English base docs
    near_dup_share: float  # extra copies with a few words changed
    repetitive_share: float  # extra docs dominated by one repeated phrase
    low_quality_share: float  # extra short, stop-word-free docs
    n_sources: int


def host_name(i: int) -> str:
    return f"h{i:05d}.bench-{TLDS[i % 3]}"


def _zipf_cdf(n: int, a: float) -> list[float]:
    w = [1.0 / (r**a) for r in range(1, n + 1)]
    tot, acc, out = sum(w), 0.0, []
    for x in w:
        acc += x
        out.append(acc / tot)
    return out


def _noisy(url: str, v: int) -> str:
    """A non-canonical spelling that ``spec.canon`` maps back to *url*."""
    scheme, rest = url.split("://", 1)
    host, _, path = rest.partition("/")
    return (
        f"{scheme.upper()}://{host.upper()}/{path}",
        f"{scheme}://{host}:443/{path}",
        f"{scheme}://{host}/{path}#frag",
        f"{scheme}://{host}/./{path}",
    )[v % 4]


def _words(rng: random.Random, vocab: list[str], n: int, topic_rate: float) -> str:
    return " ".join(
        rng.choice(TOPIC_WORDS) if rng.random() < topic_rate else rng.choice(vocab)
        for _ in range(n)
    )


def _robots_body(rng: random.Random, with_delay: bool) -> str:
    """A raw robots.txt body with a ``*`` group and, sometimes, a group
    for the crawler's own product token (which then wins, RFC 9309)."""
    lines = ["# generated", "User-agent: *", f"Disallow: /s{rng.randrange(10)}/"]
    if rng.random() < 0.5:
        lines.append(f"Allow: /s{rng.randrange(10)}/p1")
    if rng.random() < 0.5 or with_delay:
        lines += ["", "User-agent: focused-crawler",
                  f"Disallow: /s{rng.randrange(10)}/*x$"]
        if with_delay:
            lines.append(f"Crawl-delay: {rng.choice((15, 20, 30))}")
    return "\n".join(lines) + "\n"


def crawl_inputs(params: CrawlParams, seed: int, out_dir: str) -> dict[str, str]:
    """Write one crawl corpus under *out_dir*; returns {name: path}."""
    rng = random.Random(f"crawl:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "pages": os.path.join(out_dir, "pages.parquet"),
        "seeds": os.path.join(out_dir, "seeds.json"),
        "robots": os.path.join(out_dir, "robots.parquet"),
        "host_budget": os.path.join(out_dir, "host_budget.parquet"),
    }
    vocab = [w for w in _vocab("en") if w not in TOPIC_WORDS]
    cdf = _zipf_cdf(params.n_hosts, params.zipf_a)
    # host ids are shuffled so popularity does not follow name order
    host_perm = list(range(params.n_hosts))
    rng.shuffle(host_perm)
    urls = []
    for pid in range(params.n_pages):
        h = host_perm[min(bisect.bisect_left(cdf, rng.random()), params.n_hosts - 1)]
        urls.append(f"https://{host_name(h)}/s{rng.randrange(10)}/p{pid}")
    n_dangling = 0

    def link_target() -> str:
        nonlocal n_dangling
        if rng.random() < params.dangling_share:
            n_dangling += 1
            h = host_perm[min(bisect.bisect_left(cdf, rng.random()), params.n_hosts - 1)]
            return f"https://{host_name(h)}/s{rng.randrange(10)}/gone{n_dangling}"
        return urls[rng.randrange(params.n_pages)]

    cols: dict[str, list] = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    for pid, url in enumerate(urls):
        links = []
        for _ in range(rng.randint(0, int(2 * params.fanout))):
            t = link_target()
            if rng.random() < params.noncanonical_share:
                t = _noisy(t, rng.randrange(4))
            links.append(t)
        topic_rate = rng.choice((0.0, 0.02, 0.05, 0.1, 0.2))
        n_words = rng.randint(*PAGE_WORDS)
        caps = rng.randint(1, 2)
        for c in range(caps):
            latest = c == caps - 1
            text = _words(rng, vocab, n_words, topic_rate)
            if not latest:
                text = "stale capture " + text
            cols["url"].append(url)
            cols["warc_ts"].append(BASE_TS + timedelta(days=c, seconds=rng.randrange(86_400)))
            cols["html"].append(spec.render_html(text, pid, links if latest else links[:1]))
            cols["text"].append(text)
            cols["lang"].append("en")
    tbl = pa.table({
        "url": pa.array(cols["url"], pa.string()),
        "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us")),
        "html": pa.array(cols["html"], pa.binary()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
    })
    pq.write_table(tbl, paths["pages"], row_group_size=4096)

    seeds = []
    for i in range(params.n_seeds):
        if rng.random() < params.seed_dangling_share:
            seeds.append(f"https://{host_name(host_perm[i % params.n_hosts])}/s0/seed{i}")
        else:
            seeds.append(urls[rng.randrange(params.n_pages)])
    seeds = sorted(set(seeds))
    with open(paths["seeds"], "w") as f:
        json.dump(seeds, f, indent=0)

    r_hosts, r_bodies = [], []
    for i in range(params.n_hosts):
        if rng.random() < params.robots_share:
            r_hosts.append(host_name(i))
            r_bodies.append(_robots_body(rng, rng.random() < params.crawl_delay_share))
    pq.write_table(
        pa.table({"host": pa.array(r_hosts, pa.string()),
                  "content": pa.array(r_bodies, pa.string())}),
        paths["robots"],
    )
    b_hosts = [host_name(i) for i in range(params.n_hosts)]
    pq.write_table(
        pa.table({
            "host": pa.array(b_hosts, pa.string()),
            "budget": pa.array(
                [rng.randint(*BUDGETS) for _ in b_hosts],
                pa.int32(),
            ),
        }),
        paths["host_budget"],
    )
    with open(os.path.join(out_dir, "params.json"), "w") as f:
        json.dump({"seed": seed, **asdict(params), "budgets": BUDGETS,
                   "page_words": PAGE_WORDS}, f, sort_keys=True)
    return paths


# --------------------------------------------------------------------------
# curation documents
# --------------------------------------------------------------------------


def _vocab(lang: str) -> list[str]:
    from storm_focused_crawler_spark.functions.langid import SEED_CORPUS

    text = SEED_CORPUS[lang]
    for p in ".,。，、":
        text = text.replace(p, " ")
    return sorted(set(text.split()))


def _clean_doc(rng: random.Random, lang: str, uid: int) -> str:
    """A document every gate keeps when it is English: 80-140 distinct
    seed-vocabulary words in random order (so no n-gram repeats and no
    two documents share many 3-shingles), in lines of about a dozen
    words, closed by a unique marker line.  Chinese has no spaces, so
    its documents are one token long and the quality gate drops them."""
    vocab = _vocab(lang)
    if lang == "zh":
        return "".join(rng.sample(vocab, min(len(vocab), 12))) + f"。文档{uid}"
    words = rng.sample(vocab, min(len(vocab), rng.randint(80, 140)))
    lines = [" ".join(words[i:i + 12]) + "." for i in range(0, len(words), 12)]
    return "\n".join(lines) + f"\nthe record doc{uid} and a closing line."


def _near_dup(rng: random.Random, text: str, uid: int) -> str:
    """Change ~5% of the words: stays well above Jaccard 0.5 on
    3-shingles, but is never byte-identical to the original."""
    w = text.split(" ")
    for _ in range(max(1, len(w) // 20)):
        w[rng.randrange(len(w))] = f"variant{uid}"
    return " ".join(w)


def curate_inputs(params: CurateParams, seed: int, out_dir: str) -> dict:
    """Write ``documents.parquet`` under *out_dir*; returns the path and
    the planted counts the correctness gate checks against."""
    rng = random.Random(f"curate:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    rows: list[tuple[int, str, str, str]] = []
    en_base: list[int] = []  # row indices of English base docs
    others = ("de", "fr", "es", "zh")
    for i in range(params.n_base):
        lang = "en" if rng.random() < params.en_share else rng.choice(others)
        src = f"src{rng.randrange(params.n_sources):03d}"
        if lang == "en":
            en_base.append(len(rows))
        rows.append((i, _clean_doc(rng, lang, i), lang, src))
    uid = params.n_base
    n_exact = int(params.exact_dup_share * len(en_base))
    for _ in range(n_exact):
        _i, text, lang, src = rows[rng.choice(en_base)]
        rows.append((uid, text, lang, src))
        uid += 1
    n_near = int(params.near_dup_share * len(en_base))
    for _ in range(n_near):
        _i, text, lang, src = rows[rng.choice(en_base)]
        rows.append((uid, _near_dup(rng, text, uid), lang, src))
        uid += 1
    n_rep = int(params.repetitive_share * params.n_base)
    for _ in range(n_rep):
        phrase = " ".join(rng.sample(_vocab("en"), 4))
        text = " ".join([phrase] * rng.randint(25, 40)) + f" the a doc{uid}"
        rows.append((uid, text, "en", f"src{rng.randrange(params.n_sources):03d}"))
        uid += 1
    n_low = int(params.low_quality_share * params.n_base)
    for k in range(n_low):
        w = [rng.choice(("buy", "now", "cheap", "deal", "click")) for _ in range(rng.randint(3, 12))]
        # half on spam-only sources (the host gate drops them wholesale),
        # half scattered over ordinary sources (the quality gate drops them)
        src = f"spam{k % 2}" if k % 2 == 0 else f"src{rng.randrange(params.n_sources):03d}"
        rows.append((uid, " ".join(w) + f" x{uid}", "en", src))
        uid += 1
    # shuffle row order so duplicates are not adjacent to their originals
    rng.shuffle(rows)
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
        }),
        path,
    )
    planted = {"docs": len(rows), "exact_dups": n_exact, "near_dups": n_near,
               "repetitive": n_rep, "low_quality": n_low,
               "en_base": len(en_base)}
    with open(os.path.join(out_dir, "params.json"), "w") as f:
        json.dump({"seed": seed, **asdict(params), "planted": planted}, f, sort_keys=True)
    return {"documents": path, "planted": planted}
