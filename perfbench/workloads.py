"""The benchmark workloads, driven only through the library's public calls.

Every library call runs inside a tracer span. A workload generates its
inputs when constructed; ``open`` reads them into a fresh Spark session,
``prepare`` builds what the measured phase needs, ``after_setup`` and
``verify`` check answers untimed, and ``measure`` runs the closed loop of
one client for the time budget. Every step counts attempted and failed
operations, and a wrong answer is a failed operation.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from stats import median
from tracing import Tracer

K = 10
FIELD = "text"


@dataclass
class Run:
    """State of one benchmark run: counters, spans and the result values."""

    out: Path
    seed: int
    seconds: float
    tracer: Tracer
    spark: object = None
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    values: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    #: traced runs: per span id, the folded counters and per-stage split
    rollup: dict | None = None
    stages: dict | None = None

    def check(self, ok: bool, what: str) -> bool:
        """Record one checked answer; a wrong one counts as a failed op."""
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok


def write_parquet(path: Path, columns: dict) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(columns), str(path))
    return str(path)


def to_query(spec: tuple):
    """Benchmark query tuple -> library query object."""
    from lucene_spark.search import query as Q

    _, _, kind, args = spec
    t = lambda w: Q.TermQuery(FIELD, w)  # noqa: E731
    if kind == "term":
        return t(args[0])
    if kind == "and":
        return Q.BooleanQuery.of(must=[t(args[0]), t(args[1])])
    if kind == "or":
        return Q.BooleanQuery.of(should=[t(args[0]), t(args[1])])
    if kind == "dismax":
        return Q.DisjunctionMaxQuery((t(args[0]), t(args[1])), tie_breaker=0.1)
    if kind == "phrase":
        return Q.PhraseQuery(FIELD, (args[0], args[1]), slop=args[2])
    if kind == "prefix":
        return Q.PrefixQuery(FIELD, args[0])
    if kind == "wildcard":
        return Q.WildcardQuery(FIELD, args[0])
    if kind == "fuzzy":
        return Q.FuzzyQuery(FIELD, args[0], max_edits=args[1])
    raise ValueError(kind)


def topk(rows) -> list[tuple[int, float]]:
    """Rows of (doc_id, score) as comparable (int, float32) pairs."""
    return [(int(r["doc_id"]), float(np.float32(r["score"]))) for r in rows]


def same_hits(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    """Bit-identical top-k: same doc ids in the same order, equal float32 scores."""
    return len(a) == len(b) and all(
        x[0] == y[0] and np.float32(x[1]).tobytes() == np.float32(y[1]).tobytes()
        for x, y in zip(a, b)
    )


def corrupted_answer_is_caught(hits: list[tuple[int, float]]) -> bool:
    """Self-check of the comparator: a copy of a real answer with one
    score moved by one float32 ulp, or with one hit dropped, must not
    compare equal to the original."""
    if not hits:
        return False
    d, s = hits[0]
    nudged = [(d, float(np.nextafter(np.float32(s), np.float32(np.inf))))] + hits[1:]
    return not same_hits(hits, nudged) and not same_hits(hits, hits[1:]) and same_hits(hits, list(hits))


def postings_bytes(idx) -> tuple[int, int]:
    """(blocks, encoded bytes) of an index's postings table."""
    from pyspark.sql import functions as F

    cols = ("doc_gaps", "freqs", "norms", "positions", "offsets")
    size = sum((F.coalesce(F.octet_length(c), F.lit(0)) for c in cols), F.lit(0))
    r = idx.postings.agg(F.count("*").alias("n"), F.sum(size).alias("b")).collect()[0]
    return int(r["n"]), int(r["b"] or 0)


# --------------------------------------------------------------------- serve

SERVE_DOCS = 2_000
SERVE_PASSES = 6
WARMUP_QUERIES = 3
BATCH = 7


class Serve:
    """One client: whole passes of the query mix run sequentially, then one
    ``search_many`` batch, against the serving layout of a fresh build."""

    def __init__(self, run: Run):
        self.run = run
        self.corpus = gen.code_corpus(run.seed, SERVE_DOCS)
        self.input_bytes = self.corpus.text_bytes()
        self.sum_df = int(self.corpus.doc_freqs().sum())
        mix = gen.query_mix(run.seed, self.corpus, SERVE_PASSES + 1)
        self.mix, self.warmup = mix[:-1], mix[-1][:WARMUP_QUERIES]
        self.path = write_parquet(
            run.out / "input" / "serve.parquet",
            {"doc_id": np.arange(len(self.corpus), dtype=np.int64), "text": self.corpus.texts},
        )
        run.info["corpus_docs"] = len(self.corpus)
        run.info["input_bytes"] = self.input_bytes
        self.build_docs = len(self.corpus)
        self.builds: list[tuple[int, int]] = []

    def open(self) -> None:
        """Set-up: read the input (the session is already started)."""
        self.docs = self.run.spark.read.parquet(self.path).cache()
        self.docs.count()

    def prepare(self) -> float:
        """Build the index and lay it out for serving; returns the
        build_index wall seconds."""
        from lucene_spark.index.build import IndexConfig, build_index
        from lucene_spark.search.searcher import IndexSearcher

        run, tr = self.run, self.run.tracer
        cfg = IndexConfig(text_col=FIELD, field_name=FIELD, doc_id_col="doc_id", num_partitions=4)
        with tr.span("index.build_index", request="prepare") as sp:
            idx = build_index(run.spark, self.docs, cfg)
        fs = idx.fieldstats[FIELD]
        searcher = IndexSearcher(idx)
        with tr.span("search.optimize_for_serving", request="prepare"):
            searcher.optimize_for_serving()
        with tr.span("search.cache_decoded_positions", request="prepare"):
            searcher.cache_decoded_positions()
        # warm the query path (JIT, Python workers) on queries of a pass the
        # measured phase does not use
        for spec in self.warmup:
            with tr.span("search.search", request="prepare", family=spec[1]):
                searcher.search(to_query(spec), k=K).collect()
        self.index, self.searcher = idx, searcher
        run.attempted += 1
        run.check(fs.max_doc == len(self.corpus) and fs.sum_doc_freq == self.sum_df,
                  f"build: max_doc {fs.max_doc}, sum_df {fs.sum_doc_freq} != {self.sum_df}")
        self.builds.append((fs.sum_doc_freq, fs.max_doc))
        return sp.wall_ms / 1000.0

    def after_setup(self) -> None:
        """Untimed: exact index counts, cache size, repeat-build agreement."""
        run = self.run
        blocks, nbytes = postings_bytes(self.index)
        run.attempted += 1
        run.check(len(set(self.builds)) == 1, f"repeated builds disagree: {self.builds}")
        run.values["index.postings_blocks"] = blocks
        run.values["index.postings_bytes"] = nbytes
        run.values["index_bytes_per_input_byte"] = (nbytes + len(self.corpus)) / self.input_bytes
        sc = run.spark.sparkContext
        mem = sum(i.memSize() for i in sc._jsc.sc().getRDDStorageInfo())
        run.info["serve_cache_mb"] = mem / 2**20

    def measure(self) -> None:
        run, tr, s = self.run, self.run.tracer, self.searcher
        latencies, fam_lat, answers = [], {}, {}
        t_seq = 0.0
        # whole passes only, so every run times the same family mix
        for qs in self.mix:
            if t_seq >= run.seconds:
                break
            for spec in qs:
                with tr.span("search.search", request=spec[0], family=spec[1]) as sp:
                    rows = s.search(to_query(spec), k=K).collect()
                run.attempted += 1
                answers[spec[0]] = topk(rows)
                latencies.append(sp.wall_ms)
                fam_lat.setdefault(spec[1], []).append(sp.wall_ms)
                t_seq += sp.wall_ms / 1000.0
        self.answers = answers
        # one fixed-size batch of the batchable families (search_many takes
        # exact phrases of distinct terms only; others stay sequential)
        batch = [spec for qs in self.mix for spec in qs if spec[1] in gen.BATCHABLE
                 and not (spec[2] == "phrase" and spec[3][0] == spec[3][1])][:BATCH]
        with tr.span("search.search_many", request="batch") as sb:
            rows = s.search_many({spec[0]: to_query(spec) for spec in batch}, k=K).collect()
        run.attempted += len(batch)
        batched = {spec[0]: (spec, []) for spec in batch}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            batched[r["query_id"]][1].append(r)
        # untimed: every batched answer equals its per-query search answer
        for qid, (spec, rows) in batched.items():
            ref = answers.get(qid)
            if ref is None:
                ref = topk(s.search(to_query(spec), k=K).collect())
            run.check(same_hits(topk(rows), ref), f"search_many {qid} differs from search")
        run.values["query_p50_ms"] = median(latencies)
        run.values["throughput_per_s"] = len(latencies) / t_seq
        run.info.update(
            queries=len(latencies), batched_queries=len(batch),
            batched_qps=len(batch) / (sb.wall_ms / 1000.0),
            family_p50_ms={f: median(v) for f, v in sorted(fam_lat.items())},
        )

    def verify(self) -> None:
        """Untimed: a seeded subset of answers against the independent
        pure-Python BM25 oracle, and the corrupted-answer self-check."""
        oracle_mod = _load_oracle(Path(__file__).resolve().parent.parent)
        o = oracle_mod.OracleIndex(dict(enumerate(self.corpus.texts)))
        rng = np.random.default_rng(self.run.seed + 31)
        cands = [spec for qs in self.mix for spec in qs
                 if spec[0] in self.answers and spec[2] in ("term", "and", "or", "phrase")]
        pick = [cands[i] for i in sorted(rng.choice(len(cands), size=min(8, len(cands)),
                                                    replace=False))]
        for spec in pick:
            kind, args = spec[2], spec[3]
            if kind == "term":
                sc = o.term_scores(args[0])
            elif kind == "and":
                sc = o.and_scores(list(args))
            elif kind == "or":
                sc = o.or_scores(list(args))
            elif args[2] == 0:
                sc = o.phrase_scores([args[0], args[1]])
            else:
                sc = o.sloppy_scores([args[0], args[1]], args[2])
            self.run.attempted += 1
            self.run.check(same_hits(o.top_k(sc, K), self.answers[spec[0]]),
                           f"{spec[0]} differs from the BM25 oracle")
        first = next((a for a in self.answers.values() if a), [])
        self.run.info["self_check_caught"] = corrupted_answer_is_caught(first)


def _load_oracle(root: Path):
    """The repository's independent BM25 oracle, ``tests/oracle.py``."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("perfbench_oracle", root / "tests" / "oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ----------------------------------------------------------------------- nrt

NRT_BASE = 3_000
NRT_BATCH = 300
NRT_BATCHES = 8
NRT_TAGS = 40
#: queries after each refresh
NRT_QUERIES = 3
#: the micro-segment writer's doc id layout (``streaming.nrt``): epoch e
#: owns ids EPOCH_BASE + e * epoch_capacity + rank
EPOCH_BASE = 1 << 40
EPOCH_CAPACITY = 1 << 20


class Nrt:
    """Writes beside reads on a segmented on-disk index: micro-segment
    appends, delete-by-term, refresh and queries."""

    def __init__(self, run: Run):
        self.run = run
        n = NRT_BASE + NRT_BATCH * NRT_BATCHES
        # base docs carry one of NRT_TAGS tag words; each cycle deletes by a
        # fresh tag, so a deleted tag must never match again
        tags = [[f"zqtag{i % NRT_TAGS}x"] if i < NRT_BASE else [] for i in range(n)]
        self.corpus = gen.code_corpus(run.seed, n, extra_words=tags)
        self.tag_of = np.arange(NRT_BASE) % NRT_TAGS
        self.base_path = write_parquet(
            run.out / "input" / "nrt_base.parquet",
            {"doc_id": np.arange(NRT_BASE, dtype=np.int64),
             "key": np.arange(NRT_BASE, dtype=np.int64),
             "text": self.corpus.texts[:NRT_BASE]},
        )
        keys = np.arange(NRT_BASE, n, dtype=np.int64)
        self.batch_path = write_parquet(
            run.out / "input" / "nrt_batches.parquet",
            {"key": keys, "batch": (keys - NRT_BASE) // NRT_BATCH,
             "text": self.corpus.texts[NRT_BASE:]},
        )
        self.queries = [
            spec for qs in gen.query_mix(run.seed, self.corpus, NRT_BATCHES * NRT_QUERIES)
            for spec in qs if spec[1] == "term_mid"
        ]
        run.info["corpus_docs"] = n
        self.build_docs = NRT_BASE
        off = self.corpus.offsets[:NRT_BASE + 1]
        df = gen.Corpus(self.corpus.vocab, self.corpus.texts[:NRT_BASE],
                        self.corpus.tokens[:off[-1]], off).doc_freqs()
        self.base_sum_df = int(df.sum())
        self.builds: list[int] = []
        self.last_hits: list = []
        self.bytes_of = [len(t.encode()) for t in self.corpus.texts]

    def _cfg(self):
        from lucene_spark.index.build import IndexConfig

        return IndexConfig(text_col=FIELD, field_name=FIELD, doc_id_col="doc_id",
                           order_by=("key",), docs_per_segment=1 << 12)

    def open(self) -> None:
        """Set-up: read the base input (the session is already started)."""
        self.base = self.run.spark.read.parquet(self.base_path).cache()
        self.base.count()

    def prepare(self) -> float:
        """Build the segmented base index on disk; returns its wall seconds."""
        from lucene_spark.index.segments import build_segmented

        run = self.run
        self.dir = str(run.out / f"nrt-index-{len(self.builds)}")
        shutil.rmtree(self.dir, ignore_errors=True)
        with run.tracer.span("index.build_segmented", request="prepare") as sp:
            self.index = build_segmented(run.spark, self.base, self._cfg(), self.dir)
        # the write/read cycles continue across measure() calls on this index
        self.cycle, self.visible, self.deleted_keys = 0, NRT_BASE, set()
        fs = self.index.fieldstats[FIELD]
        run.attempted += 1
        run.check(fs.max_doc == NRT_BASE and fs.sum_doc_freq == self.base_sum_df,
                  f"base build: max_doc {fs.max_doc}, sum_df {fs.sum_doc_freq}")
        self.builds.append(fs.sum_doc_freq)
        return sp.wall_ms / 1000.0

    def after_setup(self) -> None:
        pass

    def _expected_doc_id(self, key: int) -> int:
        """Doc id the micro-segment writer assigns: epoch range + rank of
        the key within its batch (keys arrive in order)."""
        if key < NRT_BASE:
            return key
        b, r = divmod(key - NRT_BASE, NRT_BATCH)
        return EPOCH_BASE + b * EPOCH_CAPACITY + r

    def measure(self) -> None:
        from pyspark.sql import functions as F

        from lucene_spark.index.deletes import delete_by_term
        from lucene_spark.index.segments import load_segments
        from lucene_spark.search.searcher import IndexSearcher
        from lucene_spark.streaming.nrt import micro_segment_writer

        run, tr, spark, cfg = self.run, self.run.tracer, self.run.spark, self._cfg()
        writer = micro_segment_writer(self.dir, cfg, epoch_capacity=EPOCH_CAPACITY)
        batches = spark.read.parquet(self.batch_path)
        visible = self.visible  # keys [0, visible) are searchable
        deleted_keys = self.deleted_keys
        index = self.index
        visible_ms, query_ms, t_ops = [], [], 0.0
        appended = 0
        for b in range(self.cycle, NRT_BATCHES):
            if len(visible_ms) >= 2 and t_ops >= run.seconds:
                break
            # delete the docs carrying one tag, among those searchable now
            tag = b
            expect = {int(k) for k in np.flatnonzero(self.tag_of == tag)}
            with tr.span("index.delete_by_term", request=f"cycle{b}") as sd:
                n_del = delete_by_term(spark, self.dir, index, FIELD, f"zqtag{tag}x")
            run.attempted += 1
            run.check(n_del == len(expect), f"cycle {b}: deleted {n_del}, expected {len(expect)}")
            deleted_keys |= expect
            part = batches.filter(F.col("batch") == b).drop("batch")
            with tr.span("streaming.micro_segment_writer", request=f"cycle{b}") as sa:
                writer(part, b)
            with tr.span("index.load_segments", request=f"cycle{b}") as sr:
                index = load_segments(spark, self.dir, cfg)
                searcher = IndexSearcher(index)
            run.attempted += 1
            visible += NRT_BATCH
            appended += NRT_BATCH
            visible_ms.append(sa.wall_ms + sr.wall_ms)
            t_ops += (sd.wall_ms + sa.wall_ms + sr.wall_ms) / 1000.0
            bad = {self._expected_doc_id(k) for k in deleted_keys}
            for i in range(NRT_QUERIES):
                spec = self.queries[(b * NRT_QUERIES + i) % len(self.queries)]
                with tr.span("search.search", request=f"cycle{b}", family=spec[1]) as sq:
                    hits = topk(searcher.search(to_query(spec), k=K).collect())
                run.attempted += 1
                query_ms.append(sq.wall_ms)
                t_ops += sq.wall_ms / 1000.0
                # untimed: no deleted doc in the hits
                run.check(not any(d in bad for d, _ in hits), f"cycle {b}: deleted doc in hits")
                self.last_hits = hits or self.last_hits
            # untimed: live-doc count and the deleted tag's hits
            live = index.docs.count() - (index.deletes.count() if index.deletes is not None else 0)
            run.check(live == visible - len(deleted_keys),
                      f"cycle {b}: live {live} != {visible} - {len(deleted_keys)}")
            gone = searcher.search(to_query(("", "", "term", (f"zqtag{tag}x",))), k=K).collect()
            run.check(not gone, f"cycle {b}: deleted tag still matches")
            self.cycle, self.visible, self.index = b + 1, visible, index
        blocks, nbytes = postings_bytes(index)
        in_bytes = sum(self.bytes_of[:visible])
        run.values["index.postings_blocks"] = blocks
        run.values["index.postings_bytes"] = nbytes
        run.values["index_bytes_per_input_byte"] = (nbytes + visible) / in_bytes
        run.values["query_p50_ms"] = median(query_ms)
        run.values["throughput_per_s"] = appended / t_ops
        run.info.update(
            cycles=len(visible_ms), nrt_docs_per_s=appended / t_ops,
            refresh_p50_ms=median(visible_ms), nrt_query_p50_ms=median(query_ms),
            deleted=len(deleted_keys),
        )

    def verify(self) -> None:
        self.run.info["self_check_caught"] = corrupted_answer_is_caught(self.last_hits)


WORKLOADS = {"serve": Serve, "nrt": Nrt}
