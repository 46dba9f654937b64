"""The ``crawl`` workload: a focused crawl through ``driver.run_crawl``
over hundreds of Zipf hosts with small politeness budgets, followed by a
refresh maintenance commit (``driver.refresh_victims`` then
``driver.recrawl``), checked against the sequential oracle."""

from __future__ import annotations

import functools
import os
import statistics

from perfbench import common, gen
from storm_focused_crawler_spark import driver as drv
from storm_focused_crawler_spark import spec
from storm_focused_crawler_spark.oracle import seqcrawler as oc

PARAMS = gen.CrawlParams(
    n_hosts=400,
    zipf_a=1.0,
    n_pages=8000,
    fanout=5.0,
    dangling_share=0.15,
    noncanonical_share=0.15,
    n_seeds=3000,
    seed_dangling_share=0.05,
    robots_share=0.3,
    crawl_delay_share=0.3,
)
CAPACITY = 300
MAX_AGE_ROUNDS = 0  # refresh victims: every page fetched so far
MAX_VICTIMS = 200
SETUP_PASSES = 3


def config(rounds: int):
    return drv.CrawlConfig(
        rounds=rounds,
        capacity=CAPACITY,
        keywords=gen.TOPIC_WORDS,
        url_buckets=8,
        use_bloom=True,
        seen_filter="cuckoo",
        bloom_shards=4,
        cuckoo_buckets_per_shard=1 << 12,
    )


def oracle_config(rounds: int):
    return oc.CrawlConfig(rounds=rounds, capacity=CAPACITY, keywords=gen.TOPIC_WORDS)


def victims_df(spark, store):
    return drv.refresh_victims(spark, store, MAX_AGE_ROUNDS).orderBy("url").limit(MAX_VICTIMS)


def run(spark, workdir: str, seed: int, seconds: float, session_s: float,
        params: gen.CrawlParams = PARAMS, tracer=None) -> dict:
    """Set up, crawl for *seconds*, check; returns the workload report."""
    paths = gen.crawl_inputs(params, seed, os.path.join(workdir, "inputs"))
    # --- set-up: prepare the corpus several times, each into a fresh directory
    prep_s = []
    for k in range(SETUP_PASSES):
        t = common.Timer()
        drv.prepare_corpus(spark, paths["pages"], os.path.join(workdir, f"crawl{k}"), 8)
        prep_s.append(t.elapsed)
    crawl_dir = os.path.join(workdir, f"crawl{SETUP_PASSES - 1}")
    setup_s = session_s + statistics.median(prep_s)

    # --- timed window: one-round run_crawl calls until their time reaches
    # *seconds* (at least one), then the refresh maintenance commit
    if tracer is not None:
        tracer.start_window()
    round_s: list[float] = []
    timed_rounds: list[int] = []
    while not round_s or sum(round_s) < seconds:
        rnd = len(round_s)
        t = common.Timer()
        store = drv.run_crawl(spark, paths, config(rnd + 1), crawl_dir)
        round_s.append(t.elapsed)
        timed_rounds.append(rnd)
    t = common.Timer()
    mnt_round = drv.recrawl(spark, store, config(0), victims_df(spark, store))
    mnt_s = t.elapsed
    if tracer is not None:
        tracer.end_window()

    last = store.latest_round()
    manifests = {r: store.manifest(r) for r in range(last + 1)}
    scheduled = sum(manifests[r]["tables"]["ordering"] for r in timed_rounds)
    _files, state_bytes = common.dir_bytes(store.root)
    failures = check(spark, store, paths, mnt_round, last)
    attempted = len(timed_rounds) + 1  # rounds, the maintenance commit
    tail_v, tail_p, tail_n = common.tail(round_s)
    report = {
        "attempted": attempted,
        "failed": min(len(failures), attempted),
        "failures": failures,
        "metrics": {
            "throughput_per_s": (scheduled / sum(round_s), "items/s"),
            "op_s_p50": (statistics.median(round_s), "s"),
            "op_s_tail": (tail_v, "s"),
            "setup_s": (setup_s, "s"),
            "bytes_per_item": (state_bytes / scheduled, "B/item"),
        },
        "notes": {
            "op": f"one crawl round; tail = p{tail_p} of n={tail_n} rounds",
            "item": "scheduled url (an ordering row; fetched and extracted when in the corpus)",
            "maintenance_s": mnt_s,
            "rounds_timed": len(timed_rounds),
            "maintenance_round": mnt_round,
            "setup": {"session_s": session_s, "prepare_s": prep_s},
        },
    }
    if tracer is not None:
        report["layers"] = tracer.crawl_layers(spark, store, paths, timed_rounds,
                                               mnt_round, mnt_s, config(0))
    return report


# --------------------------------------------------------------------------
# correctness gate: the sequential oracle replays the same crawl
# --------------------------------------------------------------------------


def oracle_replay(paths: dict, mnt_round: int | None, last: int):
    """The oracle's crawl of rounds 0..last, with the maintenance
    commit (refresh_victims + recrawl twins) at *mnt_round*."""
    pages_rows, seeds, robots, budgets = oc.load_fixture_inputs(paths)
    intervals = oc.load_intervals(paths)
    corpus = oc.latest_captures(pages_rows)
    # spec.xxh64 is pure; memoising it only saves the oracle re-hashing
    # the same frontier urls every round
    orig = spec.xxh64
    spec.xxh64 = functools.lru_cache(maxsize=None)(orig)
    try:
        first = mnt_round if mnt_round is not None else last + 1
        res = oc.crawl(pages_rows, seeds, robots, budgets, oracle_config(first),
                       intervals=intervals)
        victims = []
        if mnt_round is not None:
            victims = oc.refresh_victims(res, mnt_round - 1, MAX_AGE_ROUNDS)[:MAX_VICTIMS]
            oc.recrawl(res, victims, mnt_round)
            oc.crawl_rounds(res, corpus, seeds, robots, budgets, oracle_config(last + 1),
                            mnt_round + 1, last + 1, intervals=intervals)
    finally:
        spec.xxh64 = orig
    return res, victims, corpus


def check(spark, store, paths: dict, mnt_round: int | None, last: int) -> list[str]:
    """Every mismatch against the oracle, one entry per failed operation."""
    res, victims, corpus = oracle_replay(paths, mnt_round, last)
    eng_order = {}
    for r in store.read_union(spark, last, "ordering").collect():
        eng_order.setdefault(r["round"], []).append((r["round"], r["seq"], r["url"]))
    ora_order = {}
    for t in res.ordering:
        ora_order.setdefault(t[0], []).append(t)
    eng_res = {}
    for r in store.read_union(spark, last, "results").collect():
        eng_res.setdefault(r["round"], []).append(
            (r["round"], r["seq"], r["url"], r["score"], r["text"], r["lang"], r["n_links"])
        )
    ora_res = {}
    for t in res.results:
        ora_res.setdefault(t[0], []).append(t)
    failures = []
    for rnd in range(last + 1):
        if rnd == mnt_round:
            continue
        if sorted(eng_order.get(rnd, [])) != sorted(ora_order.get(rnd, [])):
            failures.append(f"round {rnd}: ordering differs from the oracle")
        elif sorted(eng_res.get(rnd, [])) != sorted(ora_res.get(rnd, [])):
            failures.append(f"round {rnd}: results differ from the oracle")
        elif any(t[4] != corpus[t[2]][2] for t in eng_res.get(rnd, [])):
            failures.append(f"round {rnd}: extracted text differs from the generated text")
    seen = {r["url_hash"] for r in store.read_union(spark, last, "seen").collect()}
    if seen != res.seen_hashes:
        failures.append(f"round {last}: seen set differs from the oracle")
    if mnt_round is not None:
        eng_front = {r["url"] for r in store.read(spark, mnt_round, "frontier").collect()}
        if not set(victims) <= eng_front:
            failures.append(f"round {mnt_round}: recrawl did not re-enqueue the victims")
    return failures
