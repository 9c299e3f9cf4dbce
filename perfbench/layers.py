"""Metric assembly: end-to-end values, per-layer values from the traced
run, the layer probes, and the per-span breakdown table."""

from __future__ import annotations

import time
from pathlib import Path

import numpy as np

import gen
from stats import median, percentile, supported_percentile
from tracing import COUNTERS, fold, read_events, rollup

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "query_p50_ms": "ms",
    "index_bytes_per_input_byte": "B/B",
}

PER_LAYER = {
    "trace.overhead_pct": "%",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_ms_per_op": "ms",
    "spark.exec_cpu_ms_per_op": "ms",
    "spark.python_run_ms_per_op": "ms",
    "spark.python_bytes_per_op": "B",
    "spark.shuffle_write_bytes_per_op": "B",
    "search.jobs_per_query": "count",
    "search.tasks_per_query": "count",
    "search.driver_ms_p50": "ms",
    "search.python_run_ms_per_query": "ms",
    "search.wall_ms_p50": "ms",
    "index.build_docs_per_s": "1/s",
    "index.build_exec_cpu_ms": "ms",
    "index.build_python_run_ms": "ms",
    "index.build_shuffle_write_bytes": "B",
    "index.postings_blocks": "count",
    "index.postings_bytes": "B",
    "analysis.tokens_per_s": "1/s",
    "index.forutil.pfor_encode_values_per_s": "1/s",
    "index.forutil.for_decode_values_per_s": "1/s",
    "pipeline.docs_per_s": "1/s",
    "pipeline.lsh_pairs": "count",
}

#: library calls of the measured phase that are not client operations
_NOT_OPS = ("pipeline.",)
_BUILDS = ("index.build_index", "index.build_segmented")


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def end_to_end(run, open_s: list[float], prep_s: float) -> dict:
    """``setup_s`` is the median Spark start + input read plus the one
    preparation (build, serving layout) before the measured phase."""
    v = dict(run.values, setup_s=median(open_s) + prep_s)
    return _metrics(v, END_TO_END)


def per_layer(run, untraced: dict, build_docs: int, corpus: gen.Corpus,
              events_dir: Path) -> dict:
    spans = run.tracer.spans
    logs = sorted(p for p in events_dir.iterdir() if p.is_file())
    stats = fold([e for p in logs for e in read_events(str(p))], spans)
    roll = rollup(spans, stats)
    run.rollup, run.stages = roll, {s.id: stats[s.id].stages for s in spans}
    top = [s for s in spans if s.parent is None]
    ops = [s for s in top if s.request != "prepare" and not s.name.startswith(_NOT_OPS)]
    queries = [s for s in ops if s.name == "search.search"]
    build = next(s for s in top if s.name in _BUILDS)
    v = dict(run.values)

    def per(spans_, key):
        return sum(roll[s.id][key] for s in spans_) / len(spans_)

    for c in ("jobs", "tasks", "driver_ms", "exec_cpu_ms", "python_run_ms"):
        v[f"spark.{c}_per_op"] = per(ops, c)
    v["spark.python_bytes_per_op"] = per(ops, "python_bytes")
    v["spark.shuffle_write_bytes_per_op"] = per(ops, "shuffle_write_bytes")
    v["search.jobs_per_query"] = median([roll[s.id]["jobs"] for s in queries])
    v["search.tasks_per_query"] = median([roll[s.id]["tasks"] for s in queries])
    v["search.driver_ms_p50"] = median([roll[s.id]["driver_ms"] for s in queries])
    v["search.python_run_ms_per_query"] = per(queries, "python_run_ms")
    v["search.wall_ms_p50"] = median([s.wall_ms for s in queries])
    v["index.build_docs_per_s"] = build_docs / (build.wall_ms / 1000.0)
    v["index.build_exec_cpu_ms"] = roll[build.id]["exec_cpu_ms"]
    v["index.build_python_run_ms"] = roll[build.id]["python_run_ms"]
    v["index.build_shuffle_write_bytes"] = roll[build.id]["shuffle_write_bytes"]
    v["analysis.tokens_per_s"] = analysis_tokens_per_s(corpus.texts[:500])
    enc, dec = forutil_values_per_s(run.seed)
    v["index.forutil.pfor_encode_values_per_s"] = enc
    v["index.forutil.for_decode_values_per_s"] = dec
    # traced over untraced cost of the same measured phase
    v["trace.overhead_pct"] = (untraced["throughput_per_s"] / v["throughput_per_s"] - 1) * 100
    return _metrics(v, PER_LAYER)


#: seconds each pure-Python layer probe runs for
PROBE_S = 0.3


def analysis_tokens_per_s(texts: list[str]) -> float:
    """StandardAnalyzer tokens per second on a sample of the corpus."""
    from lucene_spark.analysis.tokenizer import StandardAnalyzer

    a = StandardAnalyzer()
    n, t0 = 0, time.perf_counter()
    while True:
        for t in texts:
            n += len(a.term_position_arrays(t)[0])
        el = time.perf_counter() - t0
        if el >= PROBE_S:
            return n / el


def forutil_values_per_s(seed: int) -> tuple[float, float]:
    """(PFor encode, FOR decode) values per second over seeded 256-value
    blocks of doc-id gaps."""
    from lucene_spark.index import forutil

    rng = np.random.default_rng(seed + 17)
    blocks = [rng.geometric(0.02, forutil.BLOCK_SIZE).astype(np.uint32) for _ in range(200)]
    packed = [forutil.for_encode(b) for b in blocks]

    def rate(fn, items) -> float:
        n, t0 = 0, time.perf_counter()
        while True:
            for x in items:
                fn(x)
            n += len(items) * forutil.BLOCK_SIZE
            el = time.perf_counter() - t0
            if el >= PROBE_S:
                return n / el

    return rate(forutil.pfor_encode, blocks), rate(forutil.for_decode, packed)


PIPELINE_DOCS = 400


def pipeline_probe(run, corpus: gen.Corpus) -> None:
    """The curation ops ``curate_corpus`` composes, each in its own span,
    over a slice of the corpus with exact and near copies planted; checks
    the exact-duplicate groups against the benchmark's own hash count."""
    from pyspark.sql import functions as F

    from lucene_spark.pipeline import dedup, text
    from workloads import write_parquet

    texts = gen.with_duplicates(run.seed, corpus.texts[:PIPELINE_DOCS], corpus.vocab)
    path = write_parquet(run.out / "input" / "pipeline.parquet",
                         {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts})
    docs = run.spark.read.parquet(path).cache()
    docs.count()
    tr = run.tracer
    walls = []
    with tr.span("pipeline.text.quality_scores", request="pipeline") as s:
        text.quality_scores(docs).collect()
    walls.append(s.wall_ms)
    with tr.span("pipeline.text.language_id", request="pipeline") as s:
        text.language_id(docs).collect()
    walls.append(s.wall_ms)
    with tr.span("pipeline.dedup.exact_duplicate_groups", request="pipeline") as s:
        groups = dedup.exact_duplicate_groups(docs).collect()
    walls.append(s.wall_ms)
    with tr.span("pipeline.dedup.minhash_lsh_pairs", request="pipeline") as s:
        pairs = dedup.minhash_lsh_pairs(docs).persist()
        n_pairs = pairs.count()
    walls.append(s.wall_ms)
    with tr.span("pipeline.dedup.duplicate_clusters", request="pipeline") as s:
        clusters = dedup.duplicate_clusters(pairs).agg(F.countDistinct("cluster_id")).collect()
    walls.append(s.wall_ms)
    distinct, shared = gen.exact_group_count(texts)
    run.attempted += 1
    run.check(len(groups) == distinct and sum(1 for g in groups if g["n_docs"] > 1) == shared,
              f"exact_duplicate_groups: {len(groups)} groups, expected {distinct}")
    run.values["pipeline.docs_per_s"] = len(texts) / (sum(walls) / 1000.0)
    run.values["pipeline.lsh_pairs"] = n_pairs
    run.info["pipeline_clusters"] = clusters[0][0]


def span_table(run) -> list[dict]:
    """Per span name (search calls also per query family): count and
    percentiles of wall time; with a traced run also driver self time and
    the event-log counters, averaged per call, and the build's per-stage
    split by Python operator (MapInArrow invert, MapInPandas pack...)."""
    roll = run.rollup or {}
    stages = run.stages or {}
    groups: dict[str, list] = {}
    for s in run.tracer.spans:
        phase = "prepare" if s.request == "prepare" else "run"
        groups.setdefault(f"{phase}:{s.name}", []).append(s)
        if "family" in s.attrs:
            groups.setdefault(f"{phase}:{s.name}.{s.attrs['family']}", []).append(s)
    rows = []
    for key, ss in sorted(groups.items()):
        walls = [s.wall_ms for s in ss]
        q = supported_percentile(len(walls))
        row = {"span": key, "n": len(ss), "wall_ms_p50": median(walls),
               f"wall_ms_p{q:g}": percentile(walls, q)}
        if roll:
            row["driver_ms_p50"] = median([roll[s.id]["driver_ms"] for s in ss])
            for c in COUNTERS:
                row[c] = sum(roll[s.id][c] for s in ss) / len(ss)
            split: dict[str, dict] = {}
            for s in ss:
                for ops, st in stages.get(s.id, {}).items():
                    acc = split.setdefault(ops, {"exec_run_ms": 0.0, "python_run_ms": 0.0})
                    for c in acc:
                        acc[c] += st[c] / len(ss)
            if split:
                row["python_stages"] = split
        rows.append(row)
    return rows


def span_lines(rows: list[dict]) -> list[str]:
    out = []
    for r in rows:
        parts = [r["span"]] + [
            f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
            for k, v in r.items() if k not in ("span", "python_stages")
        ]
        for ops, st in r.get("python_stages", {}).items():
            parts.append(f"stage[{ops}]=run:{st['exec_run_ms']:.4g}ms,py:{st['python_run_ms']:.4g}ms")
        out.append(" ".join(parts))
    return out
