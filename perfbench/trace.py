"""Traced runs: spans recorded from outside the engine.

The tracer replaces public functions of each layer with a wrapper that
records a span (name, start, end, parent) around the call; the engine
itself is unchanged.  Many of these functions only build a lazy
DataFrame plan, so their span is plan-building time; the Spark stages
that execute a plan run later, inside the span of whatever forced it
(usually ``storage.write_round``).  Each stage read from Spark's status
store is attributed to the innermost span whose time window contains
it.  Spans stay in memory and are written as JSON when the run ends.

Layer costs that a span cannot isolate (extraction, canonicalization,
the seen filter, the curation operators) are measured by replaying the
layer's public function on the committed state into a ``noop`` sink,
after the timed window.
"""

from __future__ import annotations

import json
import os
import threading
import time

from perfbench import common

# every per-layer metric and its unit; a workload that does not
# exercise a layer reports 0 for it
LAYER_UNITS: dict[str, str] = {
    "driver.plan_s": "s",
    "driver.readback_s": "s",
    "driver.spark_jobs_per_round": "count",
    "driver.spark_tasks_per_round": "count",
    "driver.maintenance_s": "s",
    "storage.write_round_s": "s",
    "storage.files_per_round": "count",
    "storage.bytes_per_round": "B",
    "storage.frontier_rows_rewritten": "count",
    "frontier.rows": "count",
    "frontier.eligible_share": "ratio",
    "frontier.dequeue_fill": "ratio",
    "frontier.select_s": "s",
    "frontier.partition_skew": "ratio",
    "seen_filter.negative_share": "ratio",
    "seen_filter.false_positive_share": "ratio",
    "seen_filter.build_merge_s": "s",
    "seen_filter.delete_s": "s",
    "fetch.hit_share": "ratio",
    "extract.pages": "count",
    "extract.text_bytes": "B",
    "extract.outlinks": "count",
    "extract.replay_s": "s",
    "canonicalize.replay_s": "s",
    "robots.parse_s": "s",
    "robots.blocked_share": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.core_busy_share": "ratio",
    **{f"curate.{s}.{k}": u
       for s in ("host_gate", "quality", "repetition", "gopher", "lang",
                 "exact_dedup", "near_dedup")
       for k, u in (("rows_in", "count"), ("kept_share", "ratio"))},
    "dedup.candidate_pairs": "count",
    "dedup.verified_share": "ratio",
    "curation.replay_s": "s",
    "langid.replay_s": "s",
    "dedup.replay_s": "s",
    "text_index.replay_s": "s",
    "trace.spans": "count",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
    "trace.driver_storage_share": "ratio",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t = common.Timer()
    fn()
    return t.elapsed


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.window: tuple[float, float] | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._stages: list[dict] | None = None
        self._job_times: list[float] | None = None
        self._install()

    # -- spans ---------------------------------------------------------------
    def _traced(self, original, name: str):
        """*original* wrapped so each call records a span."""
        tracer = self

        def traced(*args, **kwargs):
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            span = {"name": name, "parent": stack[-1]["id"] if stack else None,
                    "start": time.time()}
            with tracer._lock:
                span["id"] = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(span)
            try:
                return original(*args, **kwargs)
            finally:
                stack.pop()
                span["end"] = time.time()

        traced.__wrapped__ = original
        return traced

    def _wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        setattr(owner, attr, self._traced(original, name))
        self._patches.append((owner, attr, original))

    def _install(self) -> None:
        import jobs.pipeline as pipeline
        from storm_focused_crawler_spark import driver
        from storm_focused_crawler_spark.functions import langid
        from storm_focused_crawler_spark.operators import (
            cuckoo,
            curation,
            dedup,
            robots,
            text_index,
        )
        from storm_focused_crawler_spark.sources.storage import ParquetSnapshotStore

        for attr in ("run_crawl", "run_round", "prepare_corpus", "refresh_victims", "recrawl"):
            self._wrap(driver, attr, f"driver.{attr}")
        # driver.py imported these by name, so they are patched there
        self._wrap(driver, "eligible", "frontier.eligible")
        self._wrap(driver, "dequeue", "frontier.dequeue")
        for attr in ("write_round", "read", "read_union"):
            self._wrap(ParquetSnapshotStore, attr, f"storage.{attr}")
        for attr in ("build_shards", "merge_shards", "probe_transform", "delete_from_shards"):
            self._wrap(cuckoo, attr, f"seen_filter.{attr}")
        for attr in ("parse_robots", "parse_crawl_delays"):
            self._wrap(robots, attr, f"robots.{attr}")
        for attr in ("normalize_text", "host_quality_gate", "repetition_metrics",
                     "gopher_quality_rules", "pii_scrub"):
            self._wrap(curation, attr, f"curation.{attr}")
        self._wrap(langid, "classify_arrow", "langid.classify_arrow")
        for attr in ("minhash_lsh_pairs", "cluster_keepers"):
            self._wrap(dedup, attr, f"dedup.{attr}")
        for attr in ("postings", "token_df"):
            self._wrap(text_index, attr, f"text_index.{attr}")
        self._wrap(pipeline, "run_pipeline", "pipeline.run_pipeline")

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def start_window(self) -> None:
        self.window = (time.time(), None)

    def end_window(self) -> None:
        self.window = (self.window[0], time.time())
        # replays after the window run untraced: their spans would only
        # blur the attribution of the timed work
        self.uninstall()

    def _in_window(self, name_prefix: str = "", under: str | None = None) -> list[dict]:
        """Finished spans inside the timed window whose name starts with
        *name_prefix* and, if given, with an ancestor named *under*."""
        t0, t1 = self.window
        return [s for s in self.spans
                if s["name"].startswith(name_prefix) and t0 <= s["start"]
                and s.get("end", t1 + 1) <= t1 and (under is None or self._has_ancestor(s, under))]

    def _has_ancestor(self, span: dict, name: str) -> bool:
        while span["parent"] is not None:
            span = self.spans[span["parent"]]
            if span["name"] == name:
                return True
        return False

    # -- Spark status store ----------------------------------------------------
    def stages(self) -> list[dict]:
        """Completed stages with their times, executor time, CPU time and
        shuffle bytes, read from the status store (the UI can be off)."""
        if self._stages is not None:
            return self._stages
        sc = self.spark.sparkContext
        gw = sc._gateway
        store = sc._jsc.sc().statusStore()
        seq = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.status().toString() != "COMPLETE":
                continue
            if not (s.submissionTime().isDefined() and s.completionTime().isDefined()):
                continue
            out.append({
                "stage": s.stageId(),
                "start": s.submissionTime().get().getTime() / 1000.0,
                "end": s.completionTime().get().getTime() / 1000.0,
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1000.0,
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
            })
        self._stages = out
        return out

    def jobs_in(self, t0: float, t1: float) -> int:
        """Spark jobs submitted between *t0* and *t1*."""
        if self._job_times is None:
            seq = self.spark.sparkContext._jsc.sc().statusStore().jobsList(None)
            self._job_times = []
            for i in range(seq.size()):
                j = seq.apply(i)
                if j.submissionTime().isDefined():
                    self._job_times.append(j.submissionTime().get().getTime() / 1000.0)
        return sum(t0 <= t <= t1 for t in self._job_times)

    def attribute(self) -> dict[str, dict]:
        """Per span name: calls, wall, self time, and the executor work of
        the stages whose time window the span contains (innermost wins)."""
        by_name: dict[str, dict] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            a = by_name.setdefault(s["name"], {
                "calls": 0, "wall_s": 0.0, "self_s": 0.0, "stages": 0, "run_s": 0.0,
                "cpu_s": 0.0, "shuffle_read": 0, "shuffle_write": 0})
            a["calls"] += 1
            a["wall_s"] += s["end"] - s["start"]
            a["self_s"] += s["end"] - s["start"]
        for s in self.spans:
            if "end" in s and s["parent"] is not None:
                parent = self.spans[s["parent"]]
                by_name[parent["name"]]["self_s"] -= s["end"] - s["start"]
        for st in self.stages():
            owner = None
            for s in self.spans:
                if "end" in s and s["start"] <= st["start"] and st["end"] <= s["end"] + 0.001:
                    if owner is None or s["start"] >= owner["start"]:
                        owner = s
            name = owner["name"] if owner else "(outside any span)"
            a = by_name.setdefault(name, {
                "calls": 0, "wall_s": 0.0, "self_s": 0.0, "stages": 0, "run_s": 0.0,
                "cpu_s": 0.0, "shuffle_read": 0, "shuffle_write": 0})
            a["stages"] += 1
            for k in ("run_s", "cpu_s", "shuffle_read", "shuffle_write"):
                a[k] += st[k]
        return by_name

    def engine_wide(self) -> dict[str, float]:
        t0, t1 = self.window
        inside = [st for st in self.stages() if t0 <= st["start"] and st["end"] <= t1]
        return {
            "spark.executor_cpu_s": sum(st["cpu_s"] for st in inside),
            "spark.shuffle_read_bytes": sum(st["shuffle_read"] for st in inside),
            "spark.shuffle_write_bytes": sum(st["shuffle_write"] for st in inside),
            "spark.core_busy_share": sum(st["run_s"] for st in inside)
            / ((t1 - t0) * common.cores()),
        }

    def overhead(self) -> dict[str, float]:
        """Wrapper cost per call, measured on a no-op, times the calls
        made inside the timed window."""
        def noop():
            return None

        n = 20_000
        bare = _timed(lambda: [noop() for _ in range(n)])
        traced = self._traced(noop, "overhead.probe")
        keep = len(self.spans)
        wrapped = _timed(lambda: [traced() for _ in range(n)])
        del self.spans[keep:]
        per_call = max(wrapped - bare, 0.0) / n
        t0, t1 = self.window
        calls = len(self._in_window())
        return {"trace.spans": calls, "trace.overhead_s": calls * per_call,
                "trace.overhead_share": calls * per_call / (t1 - t0)}

    def write(self, out_dir: str, stem: str) -> str:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{stem}.json")
        with open(path, "w") as f:
            json.dump({"window": self.window, "spans": self.spans,
                       "by_name": self.attribute(), "stages": self.stages()}, f)
        return path

    # -- per-workload layer metrics ------------------------------------------
    def _finish(self, layers: dict[str, float]) -> dict[str, tuple[float, str]]:
        layers.update(self.engine_wide())
        layers.update(self.overhead())
        unknown = set(layers) - set(LAYER_UNITS)
        if unknown:
            raise ValueError(f"undeclared layer metrics: {sorted(unknown)}")
        return {k: (float(layers.get(k, 0.0)), u) for k, u in LAYER_UNITS.items()}

    def crawl_layers(self, spark, store, paths: dict, timed_rounds: list[int],
                     mnt_round: int, mnt_s: float, cfg) -> dict:
        from pyspark.sql import functions as F

        from storm_focused_crawler_spark.functions.udfs import (
            canonicalize_udf,
            extract_links_col,
            extract_text_col,
        )
        from storm_focused_crawler_spark.operators import cuckoo, robots
        from storm_focused_crawler_spark.operators.frontier import dequeue, eligible
        from storm_focused_crawler_spark.oracle import seqcrawler as oc

        n = len(timed_rounds)
        crawls = self._in_window("driver.run_crawl")
        writes = self._in_window("storage.write_round", under="driver.run_crawl")
        reads = self._in_window("storage.read", under="driver.run_crawl")
        plans = self._in_window("driver.run_round")
        layers: dict[str, float] = {
            "driver.plan_s": sum(s["end"] - s["start"] for s in plans) / n,
            "driver.readback_s": sum(s["end"] - s["start"] for s in reads) / n,
            "driver.maintenance_s": mnt_s,
            "storage.write_round_s": sum(s["end"] - s["start"] for s in writes) / n,
        }
        jobs = tasks = 0
        for c in crawls:
            jobs += self.jobs_in(c["start"], c["end"])
            tasks += sum(st["tasks"] for st in self.stages()
                         if c["start"] <= st["start"] and st["end"] <= c["end"])
        layers["driver.spark_jobs_per_round"] = jobs / n
        layers["driver.spark_tasks_per_round"] = tasks / n
        # share of round wall time covered by driver and storage spans
        covered = total = 0.0
        for c in crawls:
            total += c["end"] - c["start"]
            ivs = sorted((s["start"], s["end"]) for s in self.spans
                         if "end" in s and c["start"] <= s["start"] and s["end"] <= c["end"]
                         and s["name"] in ("driver.run_round", "storage.write_round",
                                           "storage.read", "storage.read_union"))
            cur_s = cur_e = None
            for a, b in ivs:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
        layers["trace.driver_storage_share"] = covered / total

        files = size = 0
        for r in timed_rounds:
            f, b = common.dir_bytes(os.path.join(store.root, f"round={r}"))
            files, size = files + f, size + b
        manifests = [store.manifest(r) for r in timed_rounds]
        layers["storage.files_per_round"] = files / n
        layers["storage.bytes_per_round"] = size / n
        layers["storage.frontier_rows_rewritten"] = sum(
            m["tables"]["frontier"] for m in manifests) / n

        def stage(m: dict, key: str, field: str) -> int:
            return m.get("stages", {}).get(key, {}).get(field, 0)

        dequeued = sum(stage(m, "dequeued", "rows") for m in manifests)
        layers["frontier.dequeue_fill"] = dequeued / (cfg.capacity * n)
        layers["fetch.hit_share"] = sum(stage(m, "extracted", "rows") for m in manifests) / max(
            dequeued, 1)
        layers["extract.pages"] = sum(stage(m, "extracted", "rows") for m in manifests)
        layers["extract.text_bytes"] = sum(stage(m, "extracted", "text_chars") for m in manifests)
        layers["extract.outlinks"] = sum(stage(m, "extracted", "outlinks") for m in manifests)
        pp = (store.read_union(spark, timed_rounds[-1], "metrics")
              .filter(F.col("stage") == "frontier_next")
              .filter(F.col("round").isin(*timed_rounds)).toPandas())
        if len(pp):
            by_round = pp.groupby("round")["rows"]
            layers["frontier.partition_skew"] = float((by_round.max() / by_round.mean()).mean())

        # --- replays on the state the last timed round committed
        last = timed_rounds[-1]
        frontier_out = store.read(spark, last, "frontier")
        seen_out = store.read_union(spark, last, "seen")
        raw_robots = spark.read.parquet(paths["robots"])
        host_budget = spark.read.parquet(paths["host_budget"])
        rules = robots.parse_robots(raw_robots, cfg.user_agent)
        n_front = store.manifest(last)["tables"]["frontier"]
        layers["frontier.rows"] = n_front
        layers["robots.parse_s"] = _timed(lambda: (
            _noop(robots.parse_robots(raw_robots, cfg.user_agent)),
            _noop(robots.parse_crawl_delays(raw_robots, cfg.user_agent))))
        elig = eligible(frontier_out, seen_out, rules)
        layers["frontier.eligible_share"] = elig.count() / max(n_front, 1)
        max_budget = max(int(host_budget.agg(F.max("budget")).collect()[0][0]), 2)
        layers["frontier.select_s"] = _timed(lambda: _noop(dequeue(
            eligible(frontier_out, seen_out, rules), host_budget, cfg.capacity,
            cfg.n_salts, max_budget)))

        shards = store.read(spark, last, "bloom")
        probe = cuckoo.probe_transform(spark, shards, cfg.bloom_shards,
                                       cfg.cuckoo_buckets_per_shard,
                                       broadcast_max_bytes=cfg.bloom_broadcast_max_bytes)
        probed = probe(frontier_out).join(
            seen_out.withColumn("_seen", F.lit(True)), "url_hash", "left").fillna(
            False, ["_seen"]).groupBy("_maybe", "_seen").count().collect()
        cnt = {(r["_maybe"], r["_seen"]): r["count"] for r in probed}
        total = sum(cnt.values())
        unseen = cnt.get((False, False), 0) + cnt.get((True, False), 0)
        layers["seen_filter.negative_share"] = (
            cnt.get((False, False), 0) + cnt.get((False, True), 0)) / max(total, 1)
        layers["seen_filter.false_positive_share"] = cnt.get((True, False), 0) / max(unseen, 1)
        delta = store.read(spark, last, "seen")
        layers["seen_filter.build_merge_s"] = _timed(lambda: _noop(cuckoo.merge_shards(
            shards, cuckoo.build_shards(delta, cfg.bloom_shards, cfg.cuckoo_buckets_per_shard))))
        victims = (store.read(spark, mnt_round, "frontier")
                   .filter(F.col("discovered_round") == mnt_round).select("url_hash"))
        layers["seen_filter.delete_s"] = _timed(lambda: _noop(
            cuckoo.delete_from_shards(shards, victims, cfg.bloom_shards)))

        fetched = store.read_union(spark, last, "results").filter(
            F.col("round").isin(*timed_rounds)).select("url")
        corpus = spark.read.parquet(os.path.join(store.root, os.pardir, "corpus"))
        pages = corpus.join(F.broadcast(fetched), "url").select("html").persist()
        pages.count()
        layers["extract.replay_s"] = _timed(lambda: _noop(pages.select(
            extract_text_col(F.col("html")).alias("t"),
            extract_links_col(F.col("html")).alias("l"))))
        links = pages.select(F.explode(extract_links_col(F.col("html"))).alias("u")).persist()
        links.count()
        layers["canonicalize.replay_s"] = _timed(lambda: _noop(
            links.select(canonicalize_udf(F.col("u")).alias("c"))))
        pages.unpersist()
        links.unpersist()

        _pages, _seeds, rb, _budgets = oc.load_fixture_inputs(paths, cfg.user_agent)
        urls = [r["url"] for r in frontier_out.select("url").collect()]
        layers["robots.blocked_share"] = sum(oc._blocked(u, rb) for u in urls) / max(len(urls), 1)
        return self._finish(layers)

    def curate_layers(self, spark, docs: dict, summary: dict, run_s: list[float]) -> dict:
        from pyspark.sql import functions as F

        from perfbench.curate import STOPWORDS, stage_rows
        from storm_focused_crawler_spark.functions import langid as L
        from storm_focused_crawler_spark.operators import curation as CU
        from storm_focused_crawler_spark.operators import dedup as D
        from storm_focused_crawler_spark.operators import text_index as TI

        rows_in, rows_out = stage_rows(summary)
        layers: dict[str, float] = {}
        for stage, n in rows_in.items():
            layers[f"curate.{stage}.rows_in"] = n
            layers[f"curate.{stage}.kept_share"] = rows_out[stage] / max(n, 1)

        d = spark.read.parquet(docs["documents"]).persist()
        d.count()
        layers["curation.replay_s"] = _timed(lambda: (
            _noop(CU.normalize_text(d)),
            _noop(CU.host_quality_gate(d)),
            _noop(CU.repetition_metrics(d)),
            _noop(CU.gopher_quality_rules(d, stopwords=STOPWORDS)),
        ))
        layers["langid.replay_s"] = _timed(lambda: _noop(L.classify_arrow(d.select("doc_id", "text"))))
        layers["text_index.replay_s"] = _timed(
            lambda: _noop(TI.token_df(TI.postings(d, "doc_id", "text"))))
        verified = [0]
        layers["dedup.replay_s"] = _timed(
            lambda: verified.__setitem__(0, D.minhash_lsh_pairs(d, "doc_id", "text", 0.5).count()))
        bands = D.minhash_band_buckets(D.minhash_signature(d, "doc_id", "text"))
        a, b = bands.alias("a"), bands.alias("b")
        cand = (a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
                       & (F.col("a._id") < F.col("b._id")))
                .select(F.col("a._id"), F.col("b._id")).distinct().count())
        layers["dedup.candidate_pairs"] = cand
        layers["dedup.verified_share"] = verified[0] / max(cand, 1)
        d.unpersist()
        return self._finish(layers)
