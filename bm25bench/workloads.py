"""The benchmark's workloads. Each is one process, one Spark session
``local[nproc]`` and one closed-loop client: one op in flight at a time.

Every op sequence is drawn from the seed before timing starts, as whole
passes; no timer decides how many ops or which kinds run. Correctness
checks run outside the timed ops, and an op that raises is counted as
failed, never retried.

Every workload reports the same end-to-end metrics over its primary op
(``end_to_end``), and its traced run reports every per-layer metric:
the layers its own ops do not reach are probed after its timed ops.

- ``serve_topk``: fresh top-10 queries of four kinds with equal counts
  (term, 3-way OR with one hot term, 2-way AND, 2-term phrase), each run
  on the WAND engine (``SegmentSearcher.topk``, the primary op) and then
  on the Catalyst engine (``Searcher.topk``). Only the search layers do
  timed work.
- ``ingest_bulk``: repeated whole-corpus ``IndexWriter.append_raw`` of
  one seeded corpus, each into a fresh store, after untimed
  full-size warm-up builds. Analysis and search do no timed work here.
"""

from __future__ import annotations

import gc
import glob
import hashlib
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import corpus as C
from spans import HostLoad, Tracer, median, nproc, timing_stats

KINDS = ("term", "or_hot", "and", "phrase")
ORDER = ["conv_id", "turn_idx"]

K = 10                       # top-k of every query
PASS_S = 20.0                # nominal seconds of one timed pass
SERVE_CONVS = 300            # about 6,300 turns
SERVE_PER_KIND = 4           # timed queries per kind, per pass
SERVE_WARMUP = 2             # untimed warm-up queries per kind
INGEST_CONVS = 2_500         # about 52,000 turns: one segment
INGEST_WARMUP = 1            # untimed full-size builds before timing
INGEST_BUILDS = 2            # timed builds per pass
SMALL_CONVS = 50             # about 1,000 turns: the traced run's batch


def passes(seconds: float) -> int:
    """Whole passes for ``--seconds``: a fixed function of the argument,
    never of the clock."""
    return max(1, round(seconds / PASS_S))


def release(spark, *cached) -> None:
    """Between phases: unpersist the phase's cached data and ask the JVM
    to run GC. (Never ``clearCache``: a recomputed docid staging table
    may be partitioned differently, see index.docids.)"""
    for df in cached:
        df.unpersist()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


def store_digest(path: str) -> str:
    """Hash of a store's segment rows (posting rows and norms rows) in
    (seg_id, term) order: equal digests mean bit-identical postings."""
    h = hashlib.sha256()
    for gen in sorted(glob.glob(os.path.join(path, "segments", "gen=*"))):
        t = pq.read_table(gen).sort_by([("seg_id", "ascending"),
                                        ("term", "ascending")])
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as out:
            out.write_table(t.combine_chunks())
        h.update(sink.getvalue())
    return h.hexdigest()


class Run:
    """State shared by a workload's phases: the session, the tracer, the
    failure count and the names of checks that did not hold."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 trace: bool, t_start: float):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tr = Tracer(self.sc)
        self.failed = 0
        self.wrong: list[str] = []
        self.metrics: dict = {}
        self.layers: dict = {}
        self.context: dict = {}
        self.setup_s = 0.0
        self.t_start = t_start
        self.phases: dict = {}

    def phase(self, name: str) -> None:
        """Seconds since process start at the end of a phase."""
        self.phases[name] = time.perf_counter() - self.t_start

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.wrong.append(what)

    def attempt(self, kind: str, fn, traced: bool = False):
        """Run one timed op; a raise is a failed op, reported, never
        hidden. Returns (op, result or None)."""
        with self.tr.op(kind, traced) as o:
            try:
                res = fn(o)
            except Exception as e:  # noqa: BLE001 - counted and reported
                o.ok = False
                self.failed += 1
                self.wrong.append(f"{kind} op {o.op_id} raised "
                                  f"{type(e).__name__}: {e}")
                res = None
        return o, res

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = {"value": float(value), "unit": unit}

    def counts(self, ops) -> dict:
        """Exact Spark jobs and tasks per op kind."""
        out: dict = {}
        for o in ops:
            j, t = self.tr.op_counts(o)
            d = out.setdefault(o.kind, {"ops": 0, "jobs": 0, "tasks": 0})
            d["ops"] += 1
            d["jobs"] += j
            d["tasks"] += t
        return out

    def overhead(self, kind: str, ops) -> None:
        """Traced minus untraced mean wall time of one op kind (the traced
        run alternates traced and untraced ops of the same shape)."""
        tr = [o.wall for o in ops if o.traced and o.ok]
        un = [o.wall for o in ops if not o.traced and o.ok]
        if tr and un:
            self.layer(f"{kind}.trace_overhead_s",
                       sum(tr) / len(tr) - sum(un) / len(un), "s")


def timed_query(r: Run, searcher, layer: str, q):
    """topk() builds the DataFrame (rewrite, term-df lookups, spec); the
    collect() runs it. Returns the op's rows as (doc_id, score)."""
    def op(o):
        with r.tr.span(f"{layer}.topk"):
            df = searcher.topk(q, K)
        with r.tr.span("collect"):
            rows = df.collect()
        return [(int(x.doc_id), float(x.score)) for x in rows]
    return op


def layer_query_metrics(r: Run, layer: str, ops) -> None:
    traced = [o for o in ops if o.traced and o.ok]
    if not traced:
        return
    comp = [s.end - s.start for o in traced
            for s in r.tr.spans_of(o, f"{layer}.topk")]
    coll = [s.end - s.start for o in traced
            for s in r.tr.spans_of(o, "collect")]
    r.layer(f"{layer}.compile_s", median(comp), "s")
    r.layer(f"{layer}.collect_s", median(coll), "s")
    jt = [r.tr.op_counts(o) for o in traced]
    r.layer(f"{layer}.jobs_per_query", sum(j for j, _ in jt) / len(jt),
            "count")
    r.layer(f"{layer}.tasks_per_query", sum(t for _, t in jt) / len(jt),
            "count")


# ---------------------------------------------------------------------------
# serving: the timed part of serve_topk, a probe in ingest_bulk's traced run
# ---------------------------------------------------------------------------

def serve_queries(c: C.Terms, rng, per_kind: int, used: set) -> list:
    """per_kind rounds of the four kinds, interleaved by round."""
    from lucene_solr_spark.search.query import Bool, Phrase, Term
    w = c.words
    mid = C.band(c, 0.01, 0.03)
    wide = C.band(c, 0.04, 0.08)
    terms = C.pick(rng, mid, per_kind, used)
    ors = [C.pick(rng, mid, 2, used) for _ in range(per_kind)]
    hot = rng.choice(c.hot, per_kind)
    ands = [C.pick(rng, wide, 2, used) for _ in range(per_kind)]
    phrases = C.bigrams(c, rng, 0.02, 0.08, per_kind, used)
    out = []
    for i in range(per_kind):
        out += [
            ("term", Term(w[terms[i]])),
            ("or_hot", Bool(should=(Term(w[hot[i]]), Term(w[ors[i][0]]),
                                    Term(w[ors[i][1]])))),
            ("and", Bool(must=(Term(w[ands[i][0]]), Term(w[ands[i][1]])))),
            ("phrase", Phrase((w[phrases[i][0]], w[phrases[i][1]]))),
        ]
    return out


@dataclass
class Serving:
    """A served corpus: its parquet, the WAND store built from it, the
    engines (``se`` is None when Catalyst is not run) and the seeded
    timed query stream."""
    path: str
    n_turns: int
    text_bytes: int
    store: str
    six: object
    ss: object
    se: object
    queries: list


def serving(r: Run, prefix: str, warm_rounds: int, rounds: int,
            catalyst: bool) -> Serving:
    """Set-up for serving: write the SERVE_CONVS corpus, build the WAND
    store with ``append_raw`` and, with ``catalyst``, the Catalyst index
    with ``build_index``; draw ``warm_rounds`` warm-up and ``rounds``
    timed rounds of the four kinds, and run the warm-up on each engine.
    ``prefix`` names this set-up's files and phases."""
    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.index.docids import assign_docids
    from lucene_solr_spark.index.writer import IndexWriter
    from lucene_solr_spark.search.engine import Searcher
    from lucene_solr_spark.search.segment_searcher import SegmentSearcher

    spark = r.spark
    path = os.path.join(r.work, f"{prefix}corpus.parquet")
    n_turns, text_bytes = C.write_corpus(spark, SERVE_CONVS, r.seed, path)
    c = C.Terms.of(C.read_texts(path))
    rng = np.random.default_rng([r.seed, 1])
    used: set = set()
    warm = serve_queries(c, rng, warm_rounds, used)
    timed = serve_queries(c, rng, rounds, used)
    docs = spark.read.parquet(path)
    r.phase(f"{prefix}corpus")

    store = os.path.join(r.work, f"{prefix}store")
    six = IndexWriter.create(spark, store).append_raw(docs)
    r.phase(f"{prefix}store")
    ss, se = SegmentSearcher(six), None
    if catalyst:
        se = Searcher(build_index(assign_docids(docs, ORDER),
                                  docid_col="docid"))
        r.phase(f"{prefix}catalyst_index")
    for _, q in warm:
        rows = ss.topk(q, K).collect()
        if se is not None:
            r.check(rows == se.topk(q, K).collect(),
                    f"warm-up WAND != Catalyst on {q}")
    release(spark)
    r.phase(f"{prefix}warmup_queries")
    return Serving(path, n_turns, text_bytes, store, six, ss, se, timed)


def serve_stream(r: Run, sv: Serving) -> list:
    """The query stream, each query on WAND and then, when the set-up
    built it, on Catalyst; in the traced run every other round of the
    four kinds is traced. Afterwards, outside the timed ops: WAND ==
    Catalyst on every query run on both, and one seeded query of each
    kind against the DuckDB oracle."""
    results = []
    load = HostLoad()
    for i, (kind, q) in enumerate(sv.queries):
        traced = r.trace and (i // len(KINDS)) % 2 == 1
        ow, rw = r.attempt("wand", timed_query(
            r, sv.ss, "segment_searcher", q), traced)
        oc = rc = None
        if sv.se is not None:
            oc, rc = r.attempt("catalyst", timed_query(
                r, sv.se, "engine", q), traced)
        results.append((kind, q, ow, rw, oc, rc))
    r.context.setdefault("host_load", load.shares())

    for kind, q, ow, rw, oc, rc in results:
        if rw is not None and rc is not None:
            r.check(rw == rc, f"WAND != Catalyst on {kind} {q}")
    r.context.setdefault("oracle_checked", oracle_check(
        r, sv.path, [(kind, q, rw) for kind, q, _, rw, _, _ in results
                     if rw is not None]))
    return results


def oracle_check(r: Run, path: str, served: list) -> int:
    """One seeded served query of each kind against the DuckDB oracle
    over the same turns, doc_id = rank over (conv_id, turn_idx)."""
    import duckdb
    from lucene_solr_spark.search.oracle import OracleBuilder
    rng = np.random.default_rng([r.seed, 2])
    pick = [int(rng.choice([i for i, x in enumerate(served) if x[0] == k]))
            for k in KINDS if any(x[0] == k for x in served)]
    ob = OracleBuilder()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {nproc()}")
        con.execute(
            "CREATE VIEW documents AS SELECT CAST(row_number() OVER "
            "(ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id, text "
            f"FROM read_parquet('{path}/*.parquet')")
        for i in pick:
            _, q, rows = served[i]
            ora = [(int(a), float(b)) for a, b in
                   con.execute(ob.topk_sql(q, K)).fetchall()]
            same = (len(ora) == len(rows) and all(
                a[0] == b[0] and abs(a[1] - b[1]) <= 1e-6
                for a, b in zip(rows, ora)))
            r.check(same, f"engine != DuckDB oracle on {q}")
    finally:
        con.close()
    return len(pick)


def search_layers(r: Run, sv: Serving, results) -> None:
    """Traced run: per-layer metrics of the traced queries, plus the
    candidate rows of each traced WAND query with ``candidates()``
    forced alone."""
    wand = [x[2] for x in results]
    cat = [x[4] for x in results if x[4] is not None]
    layer_query_metrics(r, "segment_searcher", wand)
    layer_query_metrics(r, "engine", cat)
    for kind, ops in (("wand", wand), ("catalyst", cat)):
        tr = [o for o in ops if o.traced and o.ok]
        if tr:
            r.layer(f"{kind}.unattributed_s",
                    median(r.tr.unattributed(o) for o in tr), "s")
        r.overhead(kind, ops)
    probed = [(q, rw) for _, q, ow, rw, _, _ in results
              if ow.traced and rw is not None]
    if probed:
        cand = sum(sv.ss.candidates(q, K).count() for q, _ in probed)
        hits = sum(len(rw) for _, rw in probed)
        r.layer("segment_searcher.candidates_per_query",
                cand / len(probed), "count")
        r.layer("segment_searcher.useful_ratio", hits / max(cand, 1),
                "ratio")


def end_to_end(r: Run, by_kind: dict, store_bytes: int,
               text_bytes: int) -> None:
    """The end-to-end metrics every workload reports, over the wall times
    of its primary timed ops by kind. The p50 is the median of the kinds'
    medians: a plain median over kinds of very different cost falls in
    the gap between two of them and jumps with single samples."""
    walls = [w for ws in by_kind.values() for w in ws]
    r.metric("op_p50_s", median(median(ws) for ws in by_kind.values()), "s")
    r.metric("ops_per_s", len(walls) / sum(walls), "1/s")
    r.metric("store_bytes_per_text_byte", store_bytes / text_bytes, "ratio")
    r.context["timings"] = {k: timing_stats(ws) for k, ws in by_kind.items()}


# ---------------------------------------------------------------------------
# serve_topk
# ---------------------------------------------------------------------------

def serve_topk(r: Run) -> None:
    """Primary op: one fresh top-10 query on the WAND engine. The traced
    run also runs each query on the Catalyst engine, for its layer."""
    if r.trace:
        trace_publish(r)
    sv = serving(r, "", SERVE_WARMUP, SERVE_PER_KIND * passes(r.seconds),
                 r.trace)
    r.setup_s = r.phases["warmup_queries"]
    results = serve_stream(r, sv)
    r.context.update(corpus_turns=sv.n_turns,
                     corpus_text_bytes=sv.text_bytes,
                     segments=len(sv.six.live_segs))
    r.phase("checks")
    if r.trace:
        search_layers(r, sv, results)
        # the build layers: two more whole-corpus builds of the served
        # corpus, the second one traced
        docs = r.spark.read.parquet(sv.path)
        stores = [os.path.join(r.work, f"probe_store{i}") for i in (0, 1)]
        build_layers(r, docs, builds(r, docs, stores, sv.n_turns))
        return
    by_kind = {k: [o.wall for kind, _, o, _, _, _ in results
                   if kind == k and o.ok] for k in KINDS}
    end_to_end(r, by_kind, dir_bytes(sv.store), sv.text_bytes)


# ---------------------------------------------------------------------------
# ingest_bulk
# ---------------------------------------------------------------------------

def trace_publish(r: Run) -> None:
    """Traced run: the writer's commit publish (catalog, term stats,
    commit swap) becomes a span of its own inside ``append_raw``."""
    from lucene_solr_spark.index.writer import IndexWriter
    publish = IndexWriter._publish

    def traced_publish(self, *args, **kwargs):
        with r.tr.span("writer.publish"):
            return publish(self, *args, **kwargs)

    IndexWriter._publish = traced_publish


def build_op(r: Run, docs, store: str):
    """One whole-corpus ``append_raw`` into a fresh store, then
    ``open_segments`` on it."""
    from lucene_solr_spark.index.segments import open_segments
    from lucene_solr_spark.index.writer import IndexWriter

    def op(o):
        with r.tr.span("writer.append_raw"):
            IndexWriter.create(r.spark, store).append_raw(docs)
        with r.tr.span("segments.open_segments"):
            return open_segments(r.spark, store)
    return op


def builds(r: Run, docs, stores: list, n_turns: int) -> list:
    """Timed builds, one per store; in the traced run every other one is
    traced. Each store's ``doc_count`` is checked."""
    ops = []
    load = HostLoad()
    for j, store in enumerate(stores):
        o, six = r.attempt("build", build_op(r, docs, store),
                           r.trace and j % 2 == 1)
        ops.append(o)
        if six is not None:
            r.check(six.doc_count == n_turns,
                    f"doc_count != turns in {os.path.basename(store)}")
        release(r.spark)
    r.context.setdefault("host_load", load.shares())
    return ops


def ingest_bulk(r: Run) -> None:
    """Primary op: one whole-corpus ``append_raw`` into a fresh store."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.index.segments import check_index, open_segments

    spark = r.spark
    if r.trace:
        trace_publish(r)
    n_builds = INGEST_BUILDS * passes(r.seconds)
    path = os.path.join(r.work, "corpus.parquet")
    n_turns, text_bytes = C.write_corpus(spark, INGEST_CONVS, r.seed, path)
    docs = spark.read.parquet(path)
    r.context.update(corpus_turns=n_turns, corpus_text_bytes=text_bytes,
                     builds=n_builds)
    r.phase("corpus")

    stores = [os.path.join(r.work, f"store{i}")
              for i in range(INGEST_WARMUP + n_builds)]
    # set-up: a cold build of the first SMALL_CONVS conversations warms
    # the JVM and the Python workers, then full-size builds until the
    # timed ones meet warm kernel arenas
    first = docs.where(F.col("conv_id") < f"conv{SMALL_CONVS:08d}")
    r.attempt("warmup", build_op(r, first, os.path.join(r.work, "cold")))
    release(spark)
    for store in stores[:INGEST_WARMUP]:
        r.attempt("warmup", build_op(r, docs, store))
        release(spark)
    r.phase("warmup_builds")
    r.setup_s = r.phases["warmup_builds"]

    ops = builds(r, docs, stores[INGEST_WARMUP:], n_turns)
    r.phase("timed")

    digests = {store_digest(s) for s in stores
               if os.path.exists(os.path.join(s, "commit.json"))}
    r.check(len(digests) == 1, "repeated builds are not bit-identical")
    last = open_segments(spark, stores[-1])
    r.check(check_index(last).count() == 0, "check_index not empty")
    store_bytes = dir_bytes(stores[-1])
    r.context.update(segments=len(last.live_segs), store_bytes=store_bytes)
    r.phase("checks")
    if r.trace:
        build_layers(r, docs, ops)
        # the search layers: a serve_topk-size corpus served by both
        # engines after one warm-up round (the run's 180 s limit leaves
        # no room for serve_topk's two), then two timed rounds of the four
        # kinds, the second one traced
        sv = serving(r, "probe_", 1, 2, True)
        search_layers(r, sv, serve_stream(r, sv))
        return
    end_to_end(r, {"build": [o.wall for o in ops if o.ok]}, store_bytes,
               text_bytes)


# ---------------------------------------------------------------------------
# build layers: from traced builds and calls forced alone
# ---------------------------------------------------------------------------

def build_layers(r: Run, docs, ops) -> None:
    """Traced run: per-layer metrics of the traced builds, then calls
    forced alone, each run twice with the second run timed: docid
    assignment and the segment build on the same corpus, and on one
    small seeded batch ``append_raw`` (whose wall is nearly all the
    writer's fixed per-commit cost) and, on a German copy, the analyzer
    and the exploded build."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.analysis.analyzers import lang_analyze_udf
    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.index.docids import assign_docids
    from lucene_solr_spark.index.segments import build_segments_direct
    from lucene_solr_spark.index.writer import IndexWriter

    tr = [o for o in ops if o.traced and o.ok]
    r.overhead("build", ops)
    if not tr:
        return
    spans = [s for o in tr for s in r.tr.spans_of(o, "writer.append_raw")]
    append_s = median(s.end - s.start for s in spans)
    # a commit's jobs: append_raw's own and those of its publish span
    jt = [tuple(map(sum, zip(*(r.tr.jobs_tasks(s.group) for s in
                               r.tr.spans_of(o, "writer.append_raw")
                               + r.tr.spans_of(o, "writer.publish")))))
          for o in tr]
    r.layer("writer.append_s", append_s, "s")
    r.layer("writer.publish_s", median(
        s.end - s.start for o in tr
        for s in r.tr.spans_of(o, "writer.publish")), "s")
    r.layer("writer.jobs_per_commit", median(j for j, _ in jt), "count")
    r.layer("writer.tasks_per_commit", median(t for _, t in jt), "count")
    r.layer("segments.open_s", median(
        s.end - s.start for o in tr
        for s in r.tr.spans_of(o, "segments.open_segments")), "s")
    r.layer("build.unattributed_s",
            median(r.tr.unattributed(o) for o in tr), "s")

    def forced(fn, undo=lambda out: None, cold=True):
        """fn's result and its wall time. On a ``cold`` input fn runs
        twice and the second run is timed: the first meets cold code
        paths and is undone."""
        if cold:
            undo(fn())
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0

    def assign(frame):
        ids = assign_docids(frame, ORDER)
        ids.count()
        return ids

    def unpersist(ids):
        release(r.spark, ids._docids_staging)

    # the corpus the builds above just indexed: its paths are warm
    ids, assign_s = forced(lambda: assign(docs), cold=False)
    r.layer("docids.assign_s", assign_s, "s")
    scratch = os.path.join(r.work, "forced_segments")
    _, build_write_s = forced(
        lambda: build_segments_direct(ids, 65536).write.mode("overwrite")
        .option("compression", "zstd").parquet(scratch), cold=False)
    r.layer("segments.build_write_s", build_write_s, "s")
    r.layer("segments.bytes_written", dir_bytes(scratch), "bytes")
    unpersist(ids)

    small = os.path.join(r.work, "small.parquet")
    C.write_corpus(r.spark, SMALL_CONVS, r.seed, small)
    frame = r.spark.read.parquet(small)
    stores = iter(os.path.join(r.work, f"small{i}") for i in range(2))
    _, fixed_s = forced(lambda: IndexWriter.create(r.spark, next(stores))
                        .append_raw(frame))
    r.layer("writer.fixed_s", fixed_s, "s")
    r.layer("writer.fixed_share", fixed_s / append_s, "ratio")

    path = os.path.join(r.work, "de_batch.parquet")
    C.germanize(small, path)
    frame = r.spark.read.parquet(path)
    n_tok, de_s = forced(
        lambda: frame.select(lang_analyze_udf("de")(F.col("text"))
                             .alias("ts"))
        .select(F.size("ts.terms").alias("n")).agg(F.sum("n")).first()[0])
    r.layer("analysis.de_s", de_s, "s")
    r.layer("analysis.tokens", n_tok, "count")
    r.layer("analysis.tokens_per_s", n_tok / de_s, "1/s")
    ids = assign(frame)
    rows, build_s = forced(lambda: build_index(
        ids, docid_col="docid", analyzer="de", cache=False).postings.count())
    r.layer("builder.build_index_s", build_s, "s")
    r.layer("builder.postings_rows", rows, "count")
    unpersist(ids)
