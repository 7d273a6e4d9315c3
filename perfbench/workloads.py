"""The benchmark's workloads, driven through the package's public functions.

``bulk_ingest``     full ingest of a seeded markdown corpus through the
                    reference pipeline: scan -> parse+chunk -> four
                    enrichers -> 384-dim embedding -> versioned write.
``filtered_search`` a closed loop of filtered top-k queries, IVF queries
                    and point gets against a table that set-up builds with
                    a seeded sequence of replace-by-documentid batches.

Each workload returns a :class:`Result`: operation latencies, failures, and
(when traced) the per-layer numbers.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import numpy as np

import gen
from measure import EventLog, Spans, heap_after_gc_mb, median

# Reference defaults (IngestionChunkerOptions: 2,000 tokens, 500 overlap).
MAX_TOKENS = 2000
BULK_DIMS = 384      # IngestedChunk.cs:7-8
SEARCH_DIMS = 64
BULK_DOCS = 48       # about 0.4 MB of markdown, about 290 chunks
SEARCH_DOCS = 64     # about 0.6 MB, about 400 chunks after the replace batches
HISTORY_BATCHES = 2
DOCS_PER_BATCH = 6
TOP_K = 10
DRIVER_MEM = "2g"
N_LISTS = 16
N_PROBE = 4


@dataclass
class Result:
    unit: str                        # what one throughput item is
    items: List[int] = field(default_factory=list)   # items per op
    latencies: List[float] = field(default_factory=list)  # seconds per op
    kinds: List[str] = field(default_factory=list)       # kind of each op
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    # driver heap after a full GC: at the end of set-up, and after the first
    # measured ingest or query cycle (a fixed amount of work on every host)
    heap_setup_mb: float = 0.0
    heap_mb: float = 0.0
    layers: Dict[str, float] = field(default_factory=dict)
    notes: Dict[str, object] = field(default_factory=dict)

    def record(self, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: operation failed: {why}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# Session and pipeline
# --------------------------------------------------------------------------

def start_session(work: str, trace: bool):
    from dataingestion_spark.session import get_spark

    cpus = min(4, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed, pre-touched heap: left to grow, the JVM's RSS follows GC
        # ergonomics and varied by a third between identical runs.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logs,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus,
                      driver_mem=DRIVER_MEM, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _options():
    from dataingestion_spark import ChunkerOptions
    from dataingestion_spark.tokenizer import WordTokenizer

    return ChunkerOptions(WordTokenizer(), MAX_TOKENS)


def scan(spark, directory: str):
    from pyspark.sql import functions as F

    from dataingestion_spark.sources.markdown import binary_file_scan

    return binary_file_scan(spark, directory, glob="*.md").select(
        F.regexp_extract("path", r"([^/]+)\.md$", 1).alias("doc_id"), "content")


def parse_chunk(src):
    from dataingestion_spark.operators.chunkers import header_chunk_doc, parse_and_chunk

    options = _options()
    return parse_and_chunk(src, lambda rows: header_chunk_doc(rows, options),
                           id_col="doc_id", content_col="content")


def enricher_steps():
    from dataingestion_spark.operators import enrichers as E

    return [
        ("summary", E.summary_enricher),
        ("keyword", E.keyword_enricher),
        ("sentiment", E.sentiment_enricher),
        ("classification", lambda df: E.classification_enricher(df, list(gen.CLASSES))),
    ]


def embedder(dims: int):
    from dataingestion_spark.sinks.vector_store import fake_embedding

    return lambda col: fake_embedding(col, dims)


def pipeline(spark, directory: str):
    df = parse_chunk(scan(spark, directory))
    for _, step in enricher_steps():
        df = step(df)
    return df


def ingest(spark, directory: str, table: str, dims: int, incremental: bool = False) -> int:
    from dataingestion_spark.sinks.vector_store import write_vector_table_versioned

    return write_vector_table_versioned(pipeline(spark, directory), table, embed=embedder(dims),
                                        incremental=incremental, deterministic_keys=True)


# --------------------------------------------------------------------------
# Driver-side expectations: the same public parsing/chunking functions run
# in this process, and a from-the-docstring model of each enricher.
# --------------------------------------------------------------------------

_SPLIT = re.compile(r"[ \t\n\x0b\f\r]+")


def expected_chunks(doc_id: str, text: str) -> List[Tuple[str, str, str]]:
    from dataingestion_spark.operators.chunkers import header_chunk_doc
    from dataingestion_spark.sources.markdown import parse_markdown

    chunks = header_chunk_doc(parse_markdown(text, doc_id), _options())
    return [(f"{doc_id}#{i:06d}", c["content"], c.get("context")) for i, c in enumerate(chunks)]


def expected_embedding(content: str, dims: int) -> List[float]:
    return [int(hashlib.md5(f"{content}:{d}".encode()).hexdigest()[:2], 16) / 256.0
            for d in range(dims)]


def expected_enrichment(content: str) -> Dict[str, object]:
    words = _SPLIT.split(content.strip(" "))
    long_words = [w for w in words if len(w) >= 5]
    counts = Counter(long_words)
    pos = sum(w in gen.POSITIVE for w in words)
    neg = sum(w in gen.NEGATIVE for w in words)
    cls_counts = [sum(w == c for w in words) for c in gen.CLASSES]
    best = max(cls_counts)
    return {
        "summary": " ".join(words[:10]),
        "keywords": sorted(counts, key=lambda w: (-counts[w], w))[:5],
        "sentiment": "Positive" if pos > neg else "Negative" if neg > pos else "Neutral",
        "classification": gen.CLASSES[cls_counts.index(best)] if best > 0 else "Unknown",
    }


def check_rows(rows, expected: Dict[str, List[Tuple[str, str, str]]], dims: int,
               enrichment: bool) -> str:
    """'' when the stored rows of ``expected``'s documents are exactly the
    expected chunks; otherwise the first difference."""
    got: Dict[str, list] = {}
    for r in rows:
        got.setdefault(r["documentid"], []).append(r)
    for doc_id, chunks in expected.items():
        stored = sorted(got.get(doc_id, []), key=lambda r: r["key"])
        if [(r["key"], r["content"], r["context"]) for r in stored] != chunks:
            return f"{doc_id}: stored chunks differ ({len(stored)} stored, {len(chunks)} expected)"
        for r in stored:
            if list(r["embedding"]) != expected_embedding(r["content"], dims):
                return f"{r['key']}: embedding differs"
            if enrichment:
                exp = expected_enrichment(r["content"])
                have = {k: (list(r[k]) if k == "keywords" else r[k]) for k in exp}
                if have != exp:
                    return f"{r['key']}: enrichment {have} != {exp}"
    extra = set(got) - set(expected)
    return f"unexpected documents {sorted(extra)[:3]}" if extra else ""


def _read_heap(spark, res: Result) -> float:
    """Records the driver heap after a full GC in ``res.heap_mb``; returns
    the seconds it took, which the measured loop does not count."""
    t0 = time.time()
    res.heap_mb = heap_after_gc_mb(spark)
    return time.time() - t0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# --------------------------------------------------------------------------
# bulk_ingest
# --------------------------------------------------------------------------

def bulk_ingest(spark, spans: Spans, work: str, seed: int, seconds: float, t_start: float) -> Result:
    from dataingestion_spark.sinks.manifest_store import read_documents
    from dataingestion_spark.sinks.vector_store import read_vector_table_versioned

    res = Result(unit="docs")
    t_prep = time.time()
    corpus = gen.corpus(seed, BULK_DOCS)
    src = os.path.join(work, "inputs", "bulk")
    gen.write_corpus(corpus.docs, src)
    warm = os.path.join(work, "inputs", "warm")
    gen.write_corpus(gen.corpus(seed + 1_000_003, 4, prefix="warm").docs, warm)
    expected = {d: expected_chunks(d, t) for d, t in corpus.docs.items()}
    n_chunks = sum(len(c) for c in expected.values())
    rng = random.Random(seed)
    res.notes.update(docs=len(corpus.docs), bytes=corpus.n_bytes, chunks=n_chunks)
    prep_s = time.time() - t_prep  # the benchmark's own input generation

    # warms the session, the Python workers and every stage of the pipeline,
    # the 384-dim embedding's generated code included: without it the first
    # timed ingest ran about 5 s slower than the ones after it
    with spans.span("setup.warmup"):
        ingest(spark, warm, os.path.join(work, "tables", "warm"), BULK_DIMS)
    res.setup_s = time.time() - t_start - prep_s
    res.heap_setup_mb = heap_after_gc_mb(spark)

    def check(table: str):
        sample = rng.sample(sorted(corpus.docs), 4)
        rows = read_documents(spark, table, sample).collect()
        why = check_rows(rows, {d: expected[d] for d in sample}, BULK_DIMS, enrichment=True)
        n = read_vector_table_versioned(spark, table).count()
        if not why and n != n_chunks:
            why = f"table holds {n} rows, expected {n_chunks}"
        res.record(not why, why)

    deadline = time.time() + seconds
    i = 0
    while True:
        table = os.path.join(work, "tables", f"bulk{i}")
        if spans.enabled:
            _prefix_cycle(spark, spans, src)
        t0 = time.perf_counter()
        try:
            with spans.span("manifest_store.write"):
                ingest(spark, src, table, BULK_DIMS)
        except Exception:  # counted, never silent
            res.record(False, traceback.format_exc())
        else:
            res.latencies.append(time.perf_counter() - t0)
            res.items.append(len(corpus.docs))
            check(table)
            if i == 0:
                res.notes["table_bytes"] = _dir_bytes(table)
        shutil.rmtree(table, ignore_errors=True)
        if i == 0:
            deadline += _read_heap(spark, res)
        i += 1
        if time.time() >= deadline:
            break
    return res


PREFIX = ["sources.scan", "chunkers.parse_chunk", "enrichers.summary", "enrichers.keyword",
          "enrichers.sentiment", "enrichers.classification", "vector_store.embed"]


def _prefix_steps(spark, src: str):
    """DataFrame -> DataFrame steps in pipeline order, one per PREFIX layer,
    ending with the records the writer would build."""
    from dataingestion_spark.sinks.vector_store import build_vector_records

    return [
        lambda _: scan(spark, src),
        parse_chunk,
        *[step for _, step in enricher_steps()],
        lambda df: build_vector_records(df, embedder(BULK_DIMS), deterministic_keys=True),
    ]


def _prefix_cycle(spark, spans: Spans, src: str) -> None:
    """Cumulative-prefix materialisation: each prefix of the pipeline is run
    into the ``noop`` sink. Building a step's DataFrame and running its
    prefix are separate spans; see :func:`bulk_layers`."""
    df = None
    for name, step in zip(PREFIX, _prefix_steps(spark, src)):
        with spans.span(name + ".build"):
            df = step(df)
        with spans.span(name):
            df.write.format("noop").mode("overwrite").save()


def bulk_layers(res: Result, spans: Spans, log: EventLog) -> None:
    """Layer self time = building its step + running its prefix - running
    the previous prefix. The real write's self time is the rest of the
    ingest, so the self times of one cycle add up to one ingest."""
    writes = spans.durations("manifest_store.write")
    cycles = len(writes)
    selfs = {name: [] for name in PREFIX + ["manifest_store.write"]}
    for c in range(cycles):
        prev = built = 0.0
        for name in PREFIX:
            build, run = spans.durations(name + ".build")[c], spans.durations(name)[c]
            selfs[name].append(build + run - prev)
            prev, built = run, built + build
        selfs["manifest_store.write"].append(writes[c] - built - prev)
    L = res.layers
    for name, values in selfs.items():
        L[f"{name}_s"] = median(values)
    write_spans = [s for s in spans.spans if s[0] == "manifest_store.write"]
    jobs = [j for _, t0, t1 in write_spans for j in log.select(t0, t1)]
    L["sources.bytes_read"] = log.totals(jobs).bytes_read / cycles
    L["chunkers.chunks_out"] = res.notes["chunks"]
    L["chunkers.chunks_per_doc"] = res.notes["chunks"] / res.notes["docs"]
    L["manifest_store.table_bytes_per_input_byte"] = res.notes["table_bytes"] / res.notes["bytes"]
    _spark_layers(L, log, jobs, cycles)
    L["driver.outside_jobs_s"] = log.outside_jobs(write_spans) / cycles
    # share of each cycle (first prefix span to the end of its real write)
    # that no layer span covers
    layer_spans = [s for s in spans.spans if s[0].split(".build")[0] in selfs]
    starts = [s[1] for s in layer_spans if s[0] == PREFIX[0] + ".build"]
    wall = sum(t1 - t0 for t0, (_, _, t1) in zip(starts, write_spans))
    inside = sum(t1 - t0 for _, t0, t1 in layer_spans)
    L["trace.uncovered_share"] = max(0.0, 1 - inside / wall)


def _spark_layers(L, log: EventLog, jobs, ops: int) -> None:
    tot = log.totals(jobs)
    L["spark.jobs"] = tot.jobs / ops
    L["spark.stages"] = tot.stages / ops
    L["spark.tasks"] = tot.tasks / ops
    L["spark.executor_run_s"] = tot.run_s / ops
    L["spark.executor_cpu_s"] = tot.cpu_s / ops
    L["spark.gc_s"] = tot.gc_s / ops
    L["spark.shuffle_write_bytes"] = tot.shuffle_write_bytes / ops
    L["spark.shuffle_fetch_wait_s"] = tot.fetch_wait_s / ops


# --------------------------------------------------------------------------
# filtered_search
# --------------------------------------------------------------------------

class Expected:
    """The collected table as numpy arrays, for brute-force top-k."""

    def __init__(self, rows):
        rows = sorted(rows, key=lambda r: r["key"])
        self.keys = np.array([r["key"] for r in rows], dtype=object)
        self.emb = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
        self.cols = {c: np.array([r[c] for r in rows], dtype=object)
                     for c in ("documentid", "sentiment", "classification")}
        self.norm = np.sqrt(np.cumsum(self.emb * self.emb, axis=1)[:, -1])
        self.by_doc: Dict[str, List[str]] = {}
        for r in rows:
            self.by_doc.setdefault(r["documentid"], []).append(r["key"])

    def mask(self, col: str, values) -> np.ndarray:
        return np.isin(self.cols[col], list(values))

    def scores(self, q: np.ndarray) -> np.ndarray:
        # cumsum is a left fold, the order the engine's aggregate() uses;
        # every product is on a k/65536 grid, so the sums are exact anyway
        dot = np.cumsum(self.emb * q, axis=1)[:, -1]
        denom = self.norm * np.sqrt(np.cumsum(q * q)[-1])
        return np.where(denom != 0, dot / np.where(denom != 0, denom, 1), 0.0)

    def topk(self, q: np.ndarray, mask: np.ndarray, k: int = TOP_K):
        idx = np.nonzero(mask)[0]
        s = self.scores(q)[idx]
        order = sorted(range(len(idx)), key=lambda i: (-s[i], self.keys[idx[i]]))[:k]
        return [(self.keys[idx[i]], float(s[i])) for i in order]


def _replace_metrics(before: dict, after: dict, batch_rows: int) -> Tuple[int, float]:
    changed = [b for b in set(before["buckets"]) | set(after["buckets"])
               if before["buckets"].get(b) != after["buckets"].get(b)]
    old = {n for names in before["buckets"].values() for n in names}
    new_files = [n for names in after["buckets"].values() for n in names if n not in old]
    rows = sum(after["stats"].get(n, {}).get("rows", 0) for n in new_files)
    return len(changed), rows / max(batch_rows, 1)


def filtered_search(spark, spans: Spans, work: str, seed: int, seconds: float,
                    t_start: float) -> Result:
    from pyspark.sql import functions as F

    from dataingestion_spark.sinks import manifest_store as ms
    from dataingestion_spark.sinks.vector_index import build_ivf_index, search_ivf_index
    from dataingestion_spark.sinks.vector_store import read_vector_table_versioned, search

    res = Result(unit="queries")
    t_prep = time.time()
    base = gen.corpus(seed, SEARCH_DOCS)
    batches = gen.edit_batches(seed, base, HISTORY_BATCHES, DOCS_PER_BATCH)
    inputs = os.path.join(work, "inputs")
    gen.write_corpus(base.docs, os.path.join(inputs, "base"))
    for i, b in enumerate(batches):
        gen.write_corpus(b, os.path.join(inputs, f"batch{i}"))
    current = dict(base.docs)
    table = os.path.join(work, "tables", "search")
    index = os.path.join(work, "tables", "ivf")
    rng = random.Random(seed)
    stream = _query_stream(seed, sorted(base.docs))
    # the benchmark's own input generation and expectations, not set-up
    prep_s = time.time() - t_prep

    with spans.span("setup.ingest"):
        version = ingest(spark, os.path.join(inputs, "base"), table, SEARCH_DIMS)
    replace_stats = []
    for i, batch in enumerate(batches):
        before = ms.read_manifest(table)
        with spans.span("manifest_store.replace"):
            got = ingest(spark, os.path.join(inputs, f"batch{i}"), table, SEARCH_DIMS,
                         incremental=True)
        t0 = time.time()
        current.update(batch)
        untouched = rng.sample(sorted(set(current) - set(batch)), 4)
        want = {d: expected_chunks(d, current[d]) for d in list(batch) + untouched}
        rows = ms.read_documents(spark, table, list(want)).collect()
        why = check_rows(rows, want, SEARCH_DIMS, enrichment=False)
        if not why and got != version + 1:
            why = f"version {got} after {version}"
        res.record(not why, f"replace batch {i}: {why}")
        version = got
        batch_rows = sum(len(want[d]) for d in batch)
        replace_stats.append(_replace_metrics(before, ms.read_manifest(table), batch_rows))
        prep_s += time.time() - t0

    tb = read_vector_table_versioned(spark, table)
    with spans.span("vector_index.build"):
        build_ivf_index(tb.select(F.col("key").alias("vec_id"), "embedding"), index,
                        n_centroids=N_LISTS, iters=1)
    t0 = time.time()
    exp = Expected(tb.select("key", "embedding", "documentid", "sentiment",
                             "classification").collect())
    n_expected = sum(len(expected_chunks(d, t)) for d, t in current.items())
    if len(exp.keys) != n_expected:
        res.record(False, f"table holds {len(exp.keys)} rows, expected {n_expected}")
    prep_s += time.time() - t0

    result_rows: Counter = Counter()

    def run_query(q) -> list:
        kind, col, values, vec = q
        with spans.span("manifest_store.read"):
            t = read_vector_table_versioned(spark, table)
        if kind == "get":
            with spans.span("manifest_store.read_documents"):
                return ms.read_documents(spark, table, list(values)).select("key").collect()
        cond = F.col(col).isin(list(values))
        if kind == "exact":
            with spans.span("vector_store.search"):
                rows = search(t, vec.tolist(), TOP_K, filter_expr=cond).select("key", "score").collect()
        else:
            qdf = spark.createDataFrame([(0, vec.tolist())], "query_id int, query_vec array<double>")
            with spans.span("vector_index.search"):
                rows = search_ivf_index(spark, index, qdf, k=TOP_K, n_probe=N_PROBE,
                                        allowed=t.filter(cond).select("key")).collect()
        result_rows[kind] += len(rows)
        return rows

    recalls: List[float] = []

    def check(q, rows) -> str:
        kind, col, values, vec = q
        if kind == "get":
            want = sorted(k for d in values for k in exp.by_doc.get(d, []))
            got = sorted(r["key"] for r in rows)
            return "" if got == want else f"point get {sorted(values)}: {len(got)} rows, {len(want)} expected"
        mask = exp.mask(col, values)
        truth = exp.topk(vec, mask)
        if kind == "exact":
            got = [(r["key"], r["score"]) for r in rows]
            return "" if got == truth else f"exact top-k on {col} differs"
        got = sorted(((r["rank"], r["vec_id"], r["score"]) for r in rows))
        allowed = set(exp.keys[mask])
        all_scores = dict(zip(exp.keys, exp.scores(vec)))
        ranked = sorted(got, key=lambda g: (-g[2], g[1]))
        if any(g[1] not in allowed or g[2] != all_scores[g[1]] for g in got) \
                or [g[1] for g in ranked] != [g[1] for g in got] or len(got) > TOP_K:
            return f"ivf result on {col} is not a ranked subset of the filtered table"
        truth_keys = {k for k, _ in truth}
        recalls.append(len(truth_keys & {g[1] for g in got}) / len(truth_keys) if truth_keys else 1.0)
        return ""

    with spans.span("setup.warmup"):
        # one query of each kind
        for q in {q[0]: q for q in stream[-len(CYCLE):]}.values():
            run_query(q)
    res.setup_s = time.time() - t_start - prep_s
    res.heap_setup_mb = heap_after_gc_mb(spark)

    result_rows.clear()
    res.notes["measure_t0"] = time.time()
    deadline = time.time() + seconds
    i = 0
    while True:
        q = stream[i % len(stream)]
        t0 = time.perf_counter()
        try:
            with spans.span("query"):
                rows = run_query(q)
        except Exception:  # counted, never silent
            res.record(False, traceback.format_exc())
        else:
            res.latencies.append(time.perf_counter() - t0)
            res.items.append(1)
            res.kinds.append(q[0])
            why = check(q, rows)
            res.record(not why, why)
        i += 1
        if i == len(CYCLE):
            deadline += _read_heap(spark, res)
        # whole cycles only, so every run measures the same query mix
        if time.time() >= deadline and i % len(CYCLE) == 0:
            break

    res.notes.update(docs=len(current), bytes=sum(len(t.encode()) for t in current.values()),
                     chunks=len(exp.keys), recall_at_10=float(np.mean(recalls)) if recalls else 0.0,
                     replace_stats=replace_stats,
                     files_total=sum(len(v) for v in ms.read_manifest(table)["buckets"].values()),
                     result_rows=result_rows)
    return res


# One cycle of six queries: mostly filtered top-k against the persisted IVF
# index, the session shape of the EDBT 2020 incremental top-k framework (one
# client, many filtered top-k calls against one index), with one exact
# search and one point get as minorities. The 4:1:1 ratio is this
# benchmark's choice, not a measured one. Each IVF query of a cycle has its
# own filter; the exact search's filter rotates from cycle to cycle.
CYCLE = (("ivf", "sentiment"), ("ivf", "classification"), ("exact", None),
         ("ivf", "documentid"), ("get", "documentid"), ("ivf", "sentiment"))
FILTERS = ("sentiment", "classification", "documentid")


def _query_stream(seed: int, doc_ids: List[str], n: int = 600):
    """(kind, filter column, filter values, query vector) tuples. Filters:
    sentiment (about 1/3 of rows), classification (about 1/4) and a set of
    about 1% of the documents; point gets fetch such a set."""
    rng = random.Random(seed + 17)
    vecs = gen.query_vectors(seed, n, SEARCH_DIMS)
    n_ids = max(2, round(0.01 * len(doc_ids)))
    out = []
    for i in range(n):
        kind, col = CYCLE[i % len(CYCLE)]
        col = col or FILTERS[(i // len(CYCLE)) % len(FILTERS)]
        if col == "documentid":
            values = tuple(rng.sample(doc_ids, n_ids))
        elif col == "sentiment":
            values = (rng.choice(gen.MOODS),)
        else:
            values = (rng.choice(gen.CLASSES),)
        out.append((kind, col, values, vecs[i]))
    return out


def search_layers(res: Result, spans: Spans, log: EventLog) -> None:
    L = res.layers
    t_measure = res.notes["measure_t0"]

    def measured(name):
        return [s for s in spans.spans if s[0] == name and s[1] >= t_measure]

    queries = measured("query")
    n = max(len(queries), 1)
    L["manifest_store.read_s"] = median([t1 - t0 for _, t0, t1 in measured("manifest_store.read")])
    L["manifest_store.read_documents_s"] = median(
        [t1 - t0 for _, t0, t1 in measured("manifest_store.read_documents")])
    for layer, kind in (("vector_store", "exact"), ("vector_index", "ivf")):
        calls = measured(layer + ".search")
        L[f"{layer}.search_s"] = median([t1 - t0 for _, t0, t1 in calls])
        read = sum(log.totals(log.select(t0, t1)).records_read for _, t0, t1 in calls)
        L[f"{layer}.rows_scored_per_result"] = read / max(1, res.notes["result_rows"][kind])
    # IVF lists are the index's centroid_id directories; a probed list is a
    # directory the partition-pruned scan read
    L["vector_index.lists_probed_per_query"] = median(
        [log.partitions_read(t0, t1) for _, t0, t1 in measured("vector_index.search")])
    L["vector_index.recall_at_10"] = res.notes["recall_at_10"]
    L["vector_index.build_s"] = median(spans.durations("vector_index.build"))
    jobs = [j for _, t0, t1 in queries for j in log.select(t0, t1)]
    _spark_layers(L, log, jobs, n)
    L["spark.jobs_per_query"] = len(jobs) / n
    outside = log.outside_jobs(queries)
    L["driver.outside_jobs_ms_per_query"] = 1000 * outside / n
    L["driver.outside_jobs_s"] = outside / n
    replaces = [s for s in spans.spans if s[0] == "manifest_store.replace"]
    stats = res.notes["replace_stats"]
    L["manifest_store.replace_s"] = median([t1 - t0 for _, t0, t1 in replaces])
    L["manifest_store.buckets_rewritten_per_batch"] = median([s[0] for s in stats])
    L["manifest_store.rewrite_amplification"] = median([s[1] for s in stats])
    L["manifest_store.files_total"] = res.notes["files_total"]
    L["spark.jobs_per_batch"] = sum(len(log.select(t0, t1)) for _, t0, t1 in replaces) / len(replaces)
    L["driver.outside_jobs_s_per_batch"] = log.outside_jobs(replaces) / len(replaces)


WORKLOADS = {
    "bulk_ingest": (bulk_ingest, bulk_layers),
    "filtered_search": (filtered_search, search_layers),
}
