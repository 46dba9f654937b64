"""The ``curate`` workload: ``jobs.pipeline.run_pipeline`` with
normalization, the host gate, the Gopher rules and cluster dedup, over a
generated multi-language documents table with planted duplicates."""

from __future__ import annotations

import os
import statistics

from perfbench import common, gen

PARAMS = gen.CurateParams(
    n_base=1200,
    en_share=0.6,
    exact_dup_share=0.1,
    near_dup_share=0.1,
    repetitive_share=0.05,
    low_quality_share=0.08,
    n_sources=24,
)
# one stop set across the table's languages, so the Gopher stop-word
# rule keeps German/French/Spanish prose for the language gate to judge
STOPWORDS = ["the", "and", "to", "of", "der", "die", "und", "le", "la", "et",
             "el", "que", "de", "en"]
STAGES = ("host_gate", "quality", "repetition", "gopher", "lang",
          "exact_dedup", "near_dedup")
SETUP_PASSES = 3


def pipeline(spark, docs_path: str, out: str) -> dict:
    from jobs.pipeline import run_pipeline

    return run_pipeline(
        spark, docs_path, out, 0.3, {"en"}, 0.5, normalize=True,
        host_gate=True, gopher_rules=True, gopher_stopwords=STOPWORDS,
    )


def run(spark, workdir: str, seed: int, seconds: float, session_s: float,
        params: gen.CurateParams = PARAMS, tracer=None) -> dict:
    """Set up, run the pipeline for *seconds* (at least once), check;
    returns the workload report."""
    docs = gen.curate_inputs(params, seed, os.path.join(workdir, "inputs"))
    # --- set-up: load the documents table several times
    prep_s = []
    for _ in range(SETUP_PASSES):
        t = common.Timer()
        spark.read.parquet(docs["documents"]).count()
        prep_s.append(t.elapsed)
    setup_s = session_s + statistics.median(prep_s)

    # --- timed window: whole pipeline runs, at least one, until *seconds*
    if tracer is not None:
        tracer.start_window()
    run_s: list[float] = []
    summaries: list[dict] = []
    window = common.Timer()
    while not run_s or window.elapsed < seconds:
        t = common.Timer()
        summaries.append(pipeline(spark, docs["documents"],
                                  os.path.join(workdir, f"out{len(run_s)}")))
        run_s.append(t.elapsed)
    window_s = window.elapsed
    if tracer is not None:
        tracer.end_window()

    failures = [f for s in summaries for f in check(s, docs["planted"])]
    _files, out_bytes = common.dir_bytes(os.path.join(workdir, "out0"))
    n_docs = docs["planted"]["docs"]
    tail_v, tail_p, tail_n = common.tail(run_s)
    report = {
        "attempted": len(run_s),
        "failed": min(len(failures), len(run_s)),
        "failures": failures,
        "metrics": {
            "throughput_per_s": (n_docs * len(run_s) / window_s, "items/s"),
            "op_s_p50": (statistics.median(run_s), "s"),
            "op_s_tail": (tail_v, "s"),
            "setup_s": (setup_s, "s"),
            "bytes_per_item": (out_bytes / n_docs, "B/item"),
        },
        "notes": {
            "op": f"one pipeline run; tail = p{tail_p} of n={tail_n} runs",
            "item": "input document",
            "summary": summaries[0],
            "setup": {"session_s": session_s, "prepare_s": prep_s},
        },
    }
    if tracer is not None:
        report["layers"] = tracer.curate_layers(spark, docs, summaries[0], run_s)
    return report


def check(summary: dict, planted: dict) -> list[str]:
    """Every stage gets rows; exact dedup removes exactly the planted
    copies; near dedup removes at least one and at most the planted
    near-duplicates."""
    failures = []
    for stage, n in stage_rows(summary)[0].items():
        if n <= 0:
            failures.append(f"curate: stage {stage} received no rows")
    removed = summary["after_lang"] - summary["after_exact_dedup"]
    if removed != planted["exact_dups"]:
        failures.append(
            f"curate: exact dedup removed {removed}, planted {planted['exact_dups']}")
    near = summary["after_exact_dedup"] - summary["after_near_dedup"]
    if not 0 < near <= planted["near_dups"]:
        failures.append(f"curate: near dedup removed {near}, planted {planted['near_dups']}")
    return failures


def stage_rows(summary: dict) -> tuple[dict[str, int], dict[str, int]]:
    """(rows in, rows out) per pipeline stage, in pipeline order."""
    counts = [summary[k] for k in (
        "docs_in", "after_host_gate", "after_quality", "after_repetition",
        "after_gopher_rules", "after_lang", "after_exact_dedup", "after_near_dedup")]
    return dict(zip(STAGES, counts[:-1])), dict(zip(STAGES, counts[1:]))
