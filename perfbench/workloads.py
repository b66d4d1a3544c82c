"""The benchmark's workloads.

Each workload is a single closed-loop client on one local Spark session:
it sets up (timed, several times), then repeats its operation until the
measuring time is spent, then checks every output it collected. Timed
regions hold only calls into the engine's public entry points; oracle
builds and output checks run outside them. A traced run then adds its
per-layer measurements (and, for ``ingest``, the curation stage).
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import statistics
import time
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

from lucene_solr_spark.analysis import tokenize_series
from lucene_solr_spark.functions import dedup, signature
from lucene_solr_spark.index import build, check, codec, manifest, merge
from lucene_solr_spark.oracle.searcher import OracleSearcher
from lucene_solr_spark.search import bm25, engine
from lucene_solr_spark.search.query import Clause, Query
from lucene_solr_spark.streaming import incremental

from . import inputs
from .sparkstats import JobGroup
from .trace import Tracer, union_ms

NUM_SEGMENTS = 8
JACCARD_MILLI = 500  # near_dup_pipeline's default threshold
# an injected pair at or above this exact Jaccard must be reported: the LSH
# (16 bands of 4 MinHashes) misses a pair of Jaccard s with probability
# (1 - s^4)^16, 0.36 at the 0.5 threshold by design but < 4e-8 at s >= 0.9
RECALL_JACCARD_MILLI = 900
SHINGLE_K = 3

# sizes per mode; "smoke" is the self-test size
SIZES = {
    "full": dict(setup_passes=3, warm_docs=400, warm_curate=60, bulk_docs=10000,
                 nrt_batches=2, nrt_docs=500, curate_docs=1000, dup_frac=0.05,
                 serve_docs=12000, query_set=24, min_rounds=3),
    "smoke": dict(setup_passes=1, warm_docs=200, warm_curate=40, bulk_docs=600,
                  nrt_batches=2, nrt_docs=100, curate_docs=200, dup_frac=0.05,
                  serve_docs=600, query_set=12, min_rounds=1),
}


def _t():
    return time.perf_counter()


class Run:
    """State shared by every workload of one benchmark process."""

    def __init__(self, spark, cores: int, seed: int, seconds: float, traced: bool,
                 work_dir: str, size: str):
        self.spark, self.cores, self.seed = spark, cores, seed
        self.seconds, self.traced, self.work = seconds, traced, work_dir
        self.size = SIZES[size]
        self.setup_passes: list[float] = []
        self.warmup_s = 0.0  # set-up work done once, after the passes
        self.op_ms: list[float] = []
        self.per_op: dict[str, list[float]] = {}  # samples per operation kind, for op_ms
        self.measure_s = 0.0
        self.driver_rss_mb = 0.0
        self.failures: list[str] = []
        self.attempted = 0
        self.named: dict[str, list[float]] = {}   # reported (ungated) metrics: samples
        self.units: dict[str, str] = {}
        self.layers: dict[str, float] = {}
        self.tracer = Tracer() if traced else None
        self.phases: dict[str, float] = {}  # wall seconds per phase, for the report
        self._n = 0
        self._t_phase = _t()

    def start_measure(self):
        """Start the measured phase: reset the driver's peak-RSS mark, so
        ``driver_rss_mb`` covers the measured operations only."""
        try:
            with open("/proc/self/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the peak then covers the whole process
        self._t_measure = _t()

    def op_time_ms(self) -> float:
        """The gated ``op_ms``: the geometric mean over the workload's
        operation kinds (ingest stages, serve queries) of each kind's
        median time. Every kind weighs the same, whatever its cost, so the
        costliest kind's noise does not swamp the others' changes."""
        return float(np.exp(np.mean([np.log(statistics.median(x)) for x in self.per_op.values()])))

    def op_sample(self, kind: str, ms: float):
        self.per_op.setdefault(kind, []).append(ms)

    def end_measure(self):
        self.measure_s = _t() - self._t_measure
        self.driver_rss_mb = vm_hwm_mb("self")

    def phase(self, name: str):
        """Close the current phase under ``name``."""
        now = _t()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._t_phase
        self._t_phase = now

    # -- bookkeeping -------------------------------------------------------
    def dir(self, name: str) -> str:
        self._n += 1
        d = os.path.join(self.work, f"{name}_{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def sample(self, name: str, unit: str, value: float):
        self.named.setdefault(name, []).append(float(value))
        self.units[name] = unit

    def check(self, ok: bool, what: str):
        """One output check; a failed check is counted, never retried."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else _Null()

    def operation(self, op_id: str, name: str):
        return self.tracer.operation(op_id, name) if self.tracer else _Null()

    def job_group(self, prefix: str):
        return JobGroup(self.spark.sparkContext, prefix) if self.traced else _Null()

    def df(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(pdf)


class _Null:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


# ---------------------------------------------------------------------------
# shared checks
# ---------------------------------------------------------------------------


def _same_page(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when two result pages agree on rank, docid, url and the exact
    float32 score bits; otherwise a short description of the first
    difference."""
    if len(got) != len(want):
        return f"{len(got)} hits, expected {len(want)}"
    if len(got) == 0:
        return None
    for col in ("rank", "docid"):
        a = np.asarray(got[col], np.int64)
        b = np.asarray(want[col], np.int64)
        if not np.array_equal(a, b):
            i = int(np.flatnonzero(a != b)[0])
            return f"{col} differs at row {i}: {a[i]} vs {b[i]}"
    if list(got["url"]) != list(want["url"]):
        return "url differs"
    a = np.asarray(got["score"], np.float32).view(np.uint32)
    b = np.asarray(want["score"], np.float32).view(np.uint32)
    if not np.array_equal(a, b):
        i = int(np.flatnonzero(a != b)[0])
        return f"score bits differ at rank {i + 1}"
    return None


def _oracle_page(oracle: OracleSearcher, q: inputs.Q) -> pd.DataFrame:
    """The oracle's page for ``q``. A prefix query is the constant-score
    union of every dictionary term with that prefix (MultiTermQuery's
    constant-score rewrite), which the oracle scores directly."""
    if q.shape == "prefix":
        terms = oracle.expand_prefix(q.text.rstrip("*"), max_expansions=1 << 30)
        if not terms:
            return pd.DataFrame({"rank": [], "docid": [], "url": [], "score": []})
        return oracle.search_parsed(Query([Clause("term_set", terms)]), q.k)
    return oracle.search(q.text, k=q.k, mode=q.mode)


def vm_hwm_mb(pid) -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_hwm_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return vm_hwm_mb(proc.pid) if proc is not None else 0.0


# ---------------------------------------------------------------------------
# ingest: bulk build -> NRT appends -> merge -> curation
# ---------------------------------------------------------------------------


def _shingles(text: str) -> set[str]:
    """k-token shingles over the SQL token profile (lowercase, [a-z0-9]+,
    stop words dropped) that ``dedup.shingles`` uses."""
    from lucene_solr_spark.functions.sqltext import STOPWORDS, TOKEN_PATTERN

    stop = set(STOPWORDS)
    toks = [t for t in re.findall(TOKEN_PATTERN, text.lower()) if t not in stop]
    return {" ".join(toks[i:i + SHINGLE_K]) for i in range(len(toks) - SHINGLE_K + 1)}


def _jaccard_milli(a: set, b: set) -> int:
    """Exact Jaccard in thousandths, rounded like Spark's round(): HALF_UP
    on the double's shortest decimal form."""
    union = len(a | b)
    if not union:
        return 0
    return int(Decimal(repr(1000.0 * len(a & b) / union)).quantize(Decimal(1), ROUND_HALF_UP))


def _groups(texts: dict, sig) -> list[tuple]:
    """(signature, smallest id, copies) per distinct signature, computed in
    Python: what ``dedup_by_signature`` must return."""
    out: dict[str, list] = {}
    for i in sorted(texts):
        g = out.setdefault(sig(texts[i]), [i, 0])
        g[1] += 1
    return sorted((s, k, n) for s, (k, n) in out.items())


def _write_inputs(run: Run, bulk: int, nrt: int, seed: int) -> dict:
    pages = inputs.pages(bulk, seed)
    batches = inputs.nrt_batches(run.size["nrt_batches"], nrt, seed)
    return dict(pages=pages, bulk_df=run.df(pages), batches=batches,
                batch_dfs=[run.df(b) for b, _, _ in batches],
                n_docs=bulk + len(batches) * nrt)


def _curate_inputs(run: Run, n: int, seed: int) -> dict:
    """Pages with injected near-duplicates, and what curating them must give."""
    pdf, true_pairs = inputs.with_near_dups(n, run.size["dup_frac"], seed)
    texts = dict(zip(pdf["doc_id"].tolist(), pdf["text"].tolist()))
    shingles = {i: _shingles(t) for i, t in texts.items()}
    must_find = {(a, b) for a, b in true_pairs
                 if _jaccard_milli(shingles[a], shingles[b]) >= RECALL_JACCARD_MILLI}
    return dict(
        df=run.df(pdf), n=len(texts), shingles=shingles, true_pairs=true_pairs,
        must_find=must_find, text_profile=_groups(texts, signature.text_profile_signature),
        md5=_groups(texts, lambda t: hashlib.md5(t.encode("utf-8")).hexdigest()),
    )


def _write_pass(run: Run, w: dict, tag: str) -> tuple[float, dict]:
    """One write pass on a fresh index: its timed seconds and its outputs.

    Bulk build into 8 segments, NRT batches (each followed by a reopen and
    a query for its planted term), then ``maybe_merge``. The outputs are
    checked after measuring (``_check_pass``).
    """
    spark = run.spark
    out = dict(idx=run.dir(tag), nrt=[])
    idx = out["idx"]
    op_s = 0.0

    with run.operation(f"bulk{tag}", "ingest.build"), run.job_group("build") as g:
        t0 = _t()
        man = build.build_index(spark, w["bulk_df"], idx, num_segments=NUM_SEGMENTS,
                                build_id="bulk")
        dt = _t() - t0
    op_s += dt
    run.sample("build_docs_per_s", "docs/s", len(w["pages"]) / dt)
    run.op_sample("build", dt * 1000.0)
    if run.traced:
        _build_layers(run, g.stats(), man, dt)

    for b, (_, term, url) in enumerate(w["batches"]):
        with run.operation(f"append{tag}.{b}", "ingest.append"):
            t0 = _t()
            incremental.append_batch(spark, w["batch_dfs"][b], idx, batch_id=b, num_segments=2)
            t1 = _t()
            with run.span("manifest.reopen"):
                s = engine.SparkSearcher(spark, idx)
            hit = s.search_resident(term, k=1, with_url=True)
            t2 = _t()
        op_s += t2 - t0
        run.sample("append_p50_s", "s", t1 - t0)
        run.sample("nrt_visible_p50_s", "s", t2 - t0)
        run.op_sample("nrt_visible", (t2 - t0) * 1000.0)
        out["nrt"].append((b, term, url, hit))

    before = manifest.read_current(idx)
    with run.operation(f"merge{tag}", "ingest.merge"):
        t0 = _t()
        man = merge.maybe_merge(spark, idx)
        dt = _t() - t0
    op_s += dt
    run.sample("merge_s", "s", dt)
    run.op_sample("merge", dt * 1000.0)
    out["max_doc"] = man["fieldstats"]["max_doc"]
    nbytes = sum(
        os.path.getsize(os.path.join(root, f))
        for seg in man["segments"]
        for root, _, files in os.walk(os.path.join(idx, seg["path"]))
        for f in files
    )
    run.sample("index_bytes_per_doc", "B", nbytes / out["max_doc"])
    if run.traced:
        _merge_layers(run, before, man)
    return op_s, out


def _setup_pass(run: Run, pages) -> float:
    """One ingest set-up pass: the write path's Spark plans and Python
    workers made ready on small inputs. A build into 12 segments, a
    searcher open and query, and ``maybe_merge``, which merges them."""
    t0 = _t()
    idx = run.dir("warm")
    build.build_index(run.spark, pages, idx, num_segments=12, build_id="warm")
    engine.SparkSearcher(run.spark, idx).search_resident("zz", k=1, with_url=True)
    merge.maybe_merge(run.spark, idx)
    return _t() - t0


def ingest(run: Run) -> None:
    sz = run.size
    warm_pages = run.df(inputs.pages(sz["warm_docs"], run.seed + 1))
    w = _write_inputs(run, sz["bulk_docs"], sz["nrt_docs"], run.seed)
    run.phase("inputs")

    for _ in range(sz["setup_passes"]):
        run.setup_passes.append(_setup_pass(run, warm_pages))
    run.phase("setup")

    if run.tracer:
        _wrap_ingest(run)
    # passes run back to back while the next one is expected to end within
    # the measuring time (at least one)
    outs = []
    t_end = _t() + run.seconds
    run.start_measure()
    while not run.op_ms or _t() + run.op_ms[-1] / 1000.0 <= t_end:
        op_s, out = _write_pass(run, w, f"op{len(run.op_ms)}")
        run.op_ms.append(op_s * 1000.0)
        outs.append(out)
    run.end_measure()
    run.phase("measure")

    for out in outs:
        _check_pass(run, w, out)
    run.phase("check")
    if run.tracer:
        _ingest_layers(run, w)
        run.phase("trace_layers")
        _curate(run)
        run.phase("trace_curate")


def _check_pass(run: Run, w: dict, out: dict) -> None:
    for b, term, url, hit in out["nrt"]:
        run.check(len(hit) == 1 and hit["url"].iloc[0] == url,
                  f"ingest: NRT batch {b} not visible (planted {term!r})")
    try:
        check.check_index(out["idx"], sample_terms=64)
        n = out["max_doc"]
        run.check(n == w["n_docs"], f"ingest: merged index holds {n} docs, expected {w['n_docs']}")
    except check.CheckIndexError as e:
        run.check(False, f"ingest: check_index failed after merge: {e}")


def _curate(run: Run) -> None:
    """Curation, in the traced ingest run only: one warm-up on small
    inputs, then ``near_dup_pipeline`` and the two signature dedups timed
    as one operation, then each near-dup stage on its own; the outputs are
    checked afterwards."""
    sz, tr, L = run.size, run.tracer, run.layers
    warm = run.df(inputs.with_near_dups(sz["warm_curate"], sz["dup_frac"], run.seed + 1)[0])
    c = _curate_inputs(run, sz["curate_docs"], run.seed)
    dedup.near_dup_pipeline(warm).collect()
    signature.dedup_by_signature(warm, "text_profile").collect()
    signature.dedup_by_signature(warm, "md5").collect()

    with run.operation("curate", "ingest.curate"):
        t0 = _t()
        with run.span("curate.near_dup"):
            pairs = dedup.near_dup_pipeline(c["df"]).collect()
        with run.span("curate.text_profile"):
            groups = {"text_profile": signature.dedup_by_signature(c["df"], "text_profile").collect()}
        with run.span("curate.md5"):
            groups["md5"] = signature.dedup_by_signature(c["df"], "md5").collect()
        dt = _t() - t0
    run.sample("curate_docs_per_s", "docs/s", c["n"] / dt)
    L["signature.text_profile_ms"] = _mean_ms(tr.named("curate.text_profile"))
    L["signature.md5_ms"] = _mean_ms(tr.named("curate.md5"))

    t0 = _t()
    dedup.minhash_signatures_np(c["df"]).count()
    L["dedup.signature_ms"] = (_t() - t0) * 1000.0
    cands = dedup.lsh_candidate_pairs_np(c["df"]).select("doc_a", "doc_b").collect()
    L["dedup.lsh_candidates"] = len(cands)
    cand_df = run.spark.createDataFrame(
        pd.DataFrame({"doc_a": [r[0] for r in cands], "doc_b": [r[1] for r in cands]},
                     dtype=np.int64))
    t0 = _t()
    dedup.ngram_jaccard_pairs(c["df"], cand_df, SHINGLE_K, JACCARD_MILLI).collect()
    L["dedup.verify_ms"] = (_t() - t0) * 1000.0
    L["dedup.candidate_precision"] = len(pairs) / max(len(cands), 1)
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    L["dedup.injected_recall"] = len(found & c["true_pairs"]) / max(len(c["true_pairs"]), 1)

    sh = c["shingles"]
    bad = sum(1 for r in pairs
              if r["jaccard_milli"] < JACCARD_MILLI
              or r["jaccard_milli"] != _jaccard_milli(sh[r["doc_a"]], sh[r["doc_b"]]))
    run.check(bad == 0, f"curate: {bad} reported near-dup pairs fail the exact Jaccard recheck")
    missed = c["must_find"] - found
    run.check(not missed, f"curate: {len(missed)} of {len(c['must_find'])} injected pairs with "
                          f"Jaccard >= {RECALL_JACCARD_MILLI / 1000} not reported")
    for method, rows in groups.items():
        got = sorted((r["signature"], r["keep_id"], r["copies"]) for r in rows)
        run.check(got == c[method], f"curate: dedup_by_signature({method}) found {len(got)} "
                                    f"groups, expected {len(c[method])} (or different members)")


def _wrap_ingest(run: Run) -> None:
    tr = run.tracer
    tr.wrap(build, "compute_bucket_bounds", "build.bounds")
    tr.wrap(manifest, "commit", "manifest.commit")
    tr.wrap(incremental, "build_index", "append.build")

    def groups(args, kwargs, res, sp):
        sp.counts["groups"] = len(res)

    tr.wrap(merge, "plan_merges", "merge.plan", count=groups)


def _build_layers(run: Run, st: dict, man: dict, wall_s: float) -> None:
    """Spark and segment-builder figures of one bulk build."""
    L, core_ms = run.layers, wall_s * 1000.0 * run.cores
    L["spark.build_core_utilization"] = st["executor_run_ms"] / core_ms
    L["spark.gc_ms"] = st["gc_ms"]
    walls = [s["lineage"]["wall_ms"] for s in man["segments"]]
    L["build.segment_ms_p50"] = statistics.median(walls)
    L["build.segment_ms_max"] = max(walls)
    L["build.straggler_ratio"] = max(walls) / max(statistics.median(walls), 1e-9)
    # the share of the build's core time spent inside the segment builders
    # (sort, analyze, invert, encode, write); the rest is Spark and driver
    L["build.segment_core_share"] = sum(walls) / core_ms


def _merge_layers(run: Run, before: dict, after: dict) -> None:
    tr = run.tracer
    plans = [s for s in tr.named("merge.plan") if s.op and s.op.startswith("merge")]
    plans = [s for s in plans if s.op == plans[-1].op] if plans else []
    rounds = [s for s in plans if s.counts.get("groups")]
    run.layers["merge.rounds"] = len(rounds)
    run.layers["merge.groups"] = sum(s.counts["groups"] for s in rounds)
    old = {s["segment_id"] for s in before["segments"]}
    written = sum(s["postings_bytes"] for s in after["segments"] if s["segment_id"] not in old)
    run.layers["merge.write_amplification"] = written / max(
        sum(s["postings_bytes"] for s in before["segments"]), 1)
    run.layers["merge.segments_after"] = len(after["segments"])
    run.layers["codec.postings_bytes_per_doc"] = (
        sum(s["postings_bytes"] for s in after["segments"]) / after["fieldstats"]["max_doc"])


def _ingest_layers(run: Run, w: dict) -> None:
    import pyarrow as pa

    tr, L = run.tracer, run.layers
    bulk_pdf = w["pages"]
    L["build.bounds_ms"] = _mean_ms(tr.named("build.bounds", "bulk"))
    L["manifest.commit_ms"] = _mean_ms(tr.named("manifest.commit"))
    L["manifest.reopen_ms"] = _mean_ms(tr.named("manifest.reopen"))
    L["append.build_ms"] = _mean_ms(tr.named("append.build"))
    # the splice commit of each append: its parent is the operation itself,
    # not the scratch build (whose own commit is nested in append.build)
    roots = {s.sid for s in tr.spans if s.name == "ingest.append"}
    L["append.commit_ms"] = _mean_ms(
        [s for s in tr.named("manifest.commit", "append") if s.parent in roots])

    # one bucket replayed in the driver through the segment builder
    bucket = pa.chunked_array([pa.array(bulk_pdf["text"].iloc[: len(bulk_pdf) // NUM_SEGMENTS])])
    tr.wrap(build, "tokenize_series", "analysis.tokenize",
            count=lambda a, k, res, sp: sp.counts.update(tokens=len(res)))
    tr.wrap(codec, "encode_segment_postings", "codec.encode")
    with tr.operation("replay", "build.replay"):
        build._build_segment_pdf(bucket)
    tok = tr.named("analysis.tokenize", "replay")[-1]
    L["analysis.tokens_per_s"] = tok.counts["tokens"] / max(tok.t1 - tok.t0, 1e-9)
    L["codec.encode_ms"] = _mean_ms(tr.named("codec.encode", "replay"))


def _mean_ms(spans) -> float:
    return float(np.mean([s.ms for s in spans])) if spans else 0.0


# ---------------------------------------------------------------------------
# serve_resident
# ---------------------------------------------------------------------------


def serve_resident(run: Run) -> None:
    sz, spark = run.size, run.spark
    pdf = inputs.pages(sz["serve_docs"], run.seed)
    corpus = run.df(pdf)
    # the warm-up query: the corpus's first word, a title word (always indexed)
    warm_q = pdf["text"].iloc[0].split()[0]
    for _ in range(sz["setup_passes"]):
        t0 = _t()
        idx = run.dir("serve")
        with run.job_group("build") as g:
            man = build.build_index(spark, corpus, idx, num_segments=NUM_SEGMENTS,
                                    build_id="serve")
        t_built = _t()
        searcher = engine.SparkSearcher(spark, idx)
        searcher.search_resident(warm_q, k=10, with_url=True)
        run.setup_passes.append(_t() - t0)
    if run.traced:  # the last set-up pass's bulk build
        _build_layers(run, g.stats(), man, t_built - t0)

    run.phase("setup")
    flat = tokenize_series(pdf["text"])
    dfs = flat.groupby("term", observed=True)["doc_idx"].nunique()
    queries = inputs.query_stream(sz["query_set"], run.seed, dfs.index.to_numpy(dtype=object),
                                  dfs.to_numpy(dtype=np.float64), pdf["text"].tolist())
    del flat
    run.phase("queries")

    # the measured queries are a fixed set, replayed in rounds. One round
    # before measuring, timed into setup_s, is the warm-up traffic: the
    # searcher's term-statistics cache then holds every term the set uses,
    # as a serving searcher's would for a recurring query log, whatever
    # the host speed
    t0 = _t()
    for q in queries:
        searcher.search_resident(q.text, k=q.k, mode=q.mode, with_url=True)
    run.warmup_s = _t() - t0
    run.phase("warm_queries")

    if run.traced:
        _wrap_serve(run)
    # whole rounds until the measuring time is spent (at least min_rounds);
    # a query's latency is its median over the rounds, so a host that is
    # slow for part of a run moves it little
    results = []
    t_end = _t() + run.seconds
    run.start_measure()
    rounds = 0
    while rounds < sz["min_rounds"] or _t() < t_end:
        for i, q in enumerate(queries):
            with run.operation(f"q{rounds}.{i}", "query"):
                t0 = _t()
                res = searcher.search_resident(q.text, k=q.k, mode=q.mode, with_url=True)
                dt = _t() - t0
            run.op_ms.append(dt * 1000.0)
            run.op_sample(f"q{i}", dt * 1000.0)
            run.sample("query_p50_ms", "ms", dt * 1000.0)
            run.sample(f"shape.{q.shape}", "ms", dt * 1000.0)
            results.append((q, res))
        rounds += 1
    run.end_measure()
    if run.tracer:
        run.tracer.close()
    run.phase("measure")

    # the oracle is built after measuring, so it is not in driver_rss_mb
    oracle = OracleSearcher(pdf)
    run.phase("oracle")
    _check_serve(run, searcher, oracle, results)
    run.phase("check")
    if run.traced:
        _serve_layers(run, results)


def _distributed_page(searcher, q: inputs.Q) -> pd.DataFrame:
    """The page ``search()`` (the Spark path) returns for ``q``."""
    rows = searcher.search(q.text, k=q.k, mode=q.mode, with_url=True).collect()
    return pd.DataFrame(
        {"rank": [r["rank"] for r in rows], "docid": [r["docid"] for r in rows],
         "url": [r["url"] for r in rows],
         "score": np.array([r["score"] for r in rows], dtype=np.float32)})


def _check_serve(run: Run, searcher, oracle, results) -> None:
    """Every collected page against the oracle; fuzzy pages (which the
    oracle cannot rewrite) against the distributed path."""
    memo: dict[tuple, pd.DataFrame] = {}
    spent = {"check_distributed": 0.0, "check_oracle": 0.0}
    for q, res in results:
        key = (q.text, q.k, q.mode)
        if key not in memo:
            t0 = _t()
            if q.shape == "fuzzy":
                memo[key] = _distributed_page(searcher, q)
                spent["check_distributed"] += _t() - t0
            else:
                memo[key] = _oracle_page(oracle, q)
                spent["check_oracle"] += _t() - t0
        diff = _same_page(res, memo[key])
        ref = "distributed" if q.shape == "fuzzy" else "oracle"
        run.check(diff is None, f"{q.shape} {q.text!r} k={q.k}: differs from {ref}: {diff}")
    run.phases.update(spent)


def _wrap_serve(run: Run) -> None:
    tr = run.tracer
    S = engine.SparkSearcher

    def cache_before(args, kwargs, sp):
        sp.counts["cached"] = len(args[0]._stats_cache)

    def stats_hits(args, kwargs, res, sp):
        # terms the call had to read = entries it added to the searcher's cache
        asked = len(set(args[1]))
        sp.counts["terms"] = asked
        sp.counts["hits"] = asked - (len(args[0]._stats_cache) - sp.counts["cached"])

    def expanded(args, kwargs, res, sp):
        n = 0
        for c in (res.clauses if res is not None else []):
            n += len(c.terms) if c.kind == "term_set" else (len(c.sub.clauses) if c.sub else 0)
        sp.counts["terms"] = n

    def postings(args, kwargs, res, sp):
        sp.counts["bytes"] = int(sum(len(b) for b in res["blocks"]))
        if "positions" in res:
            sp.counts["bytes"] += int(sum(len(b) for b in res["positions"] if b is not None))
        sp.counts["blocks"] = int(sum(len(o) for o in res["skip_off"]))

    def decoded(args, kwargs, res, sp):
        ids = kwargs.get("block_ids", args[4] if len(args) > 4 else None)
        sp.counts["blocks"] = len(ids) if ids is not None else len(args[2])

    tr.wrap(engine, "parse_query", "query.parse")
    tr.wrap(S, "_rewrite_multiterm", "query.rewrite", count=expanded)
    tr.wrap(S, "_term_stats_resident", "engine.term_stats", count=stats_hits, pre=cache_before)
    tr.wrap(S, "_read_seg_postings", "engine.postings_read", count=postings)
    tr.wrap(engine, "_score_segment", "engine.segment")
    tr.wrap(S, "_resident_url", "engine.fetch")
    tr.wrap(codec, "decode_blocks", "codec.decode", count=decoded)
    tr.wrap(bm25, "score_freqs", "bm25.score",
            count=lambda a, k, res, sp: sp.counts.update(docs=len(a[0])))


# wall-time shares of a query: the union of these spans' intervals (on any
# thread) over the query's wall time
SHARES = {
    "query.decode_score_share": ("codec.decode", "bm25.score"),
    "query.segment_kernel_share": ("engine.segment",),
    "query.postings_read_share": ("engine.postings_read",),
    "query.term_stats_share": ("engine.term_stats",),
    "query.fetch_share": ("engine.fetch",),
    "query.parse_rewrite_share": ("query.parse", "query.rewrite"),
}


def _serve_layers(run: Run, results) -> None:
    tr, L = run.tracer, run.layers
    nq = len(results)
    by_op: dict[str, list] = {}
    for s in tr.spans:
        if s.op and s.op.startswith("q"):
            by_op.setdefault(s.op, []).append(s)

    def per_query(name, fn=lambda s: s.ms):
        return sum(fn(s) for s in tr.spans if s.name == name and s.op and s.op.startswith("q")) / max(nq, 1)

    L["query.parse_ms"] = per_query("query.parse")
    rw = [s for s in tr.named("query.rewrite") if s.op and s.op.startswith("q")]
    L["query.rewrite_ms"] = _mean_ms(rw)
    L["query.expanded_terms"] = float(np.mean([s.counts["terms"] for s in rw])) if rw else 0.0
    L["engine.term_stats_ms"] = per_query("engine.term_stats")
    ts = [s for s in tr.named("engine.term_stats") if s.op and s.op.startswith("q")]
    asked = sum(s.counts["terms"] for s in ts)
    L["engine.stats_cache_hit_ratio"] = sum(s.counts["hits"] for s in ts) / asked if asked else 0.0
    L["engine.postings_read_ms"] = per_query("engine.postings_read")
    L["engine.postings_bytes_read"] = per_query("engine.postings_read", lambda s: s.counts["bytes"])
    seg = [s for s in tr.spans if s.name == "engine.segment" and s.op and s.op.startswith("q")]
    L["engine.segment_self_ms"] = sum(tr.self_ms(s) for s in seg) / max(nq, 1)
    L["engine.fetch_ms_per_query"] = per_query("engine.fetch")
    L["codec.blocks_decoded_per_query"] = per_query("codec.decode", lambda s: s.counts["blocks"])
    avail = per_query("engine.postings_read", lambda s: s.counts["blocks"])
    L["codec.blocks_decoded_ratio"] = L["codec.blocks_decoded_per_query"] / avail if avail else 0.0
    L["codec.decode_ms_per_query"] = per_query("codec.decode")
    L["bm25.docs_scored_per_query"] = per_query("bm25.score", lambda s: s.counts["docs"])
    L["bm25.score_ms_per_query"] = per_query("bm25.score")
    # engine merge: root end - last per-segment span end - url fetch time
    merge_ms, wall_ms = [], 0.0
    covered = dict.fromkeys(SHARES, 0.0)
    for spans in by_op.values():
        root = min(spans, key=lambda s: s.sid)
        wall_ms += root.ms
        for share, names in SHARES.items():
            covered[share] += union_ms([s for s in spans if s.name in names], root.t0, root.t1)
        segs = [s for s in spans if s.name in ("engine.segment", "engine.postings_read")]
        if not segs:
            continue
        fetch = sum(s.ms for s in spans if s.name == "engine.fetch")
        merge_ms.append(max(0.0, (root.t1 - max(s.t1 for s in segs)) * 1000.0 - fetch))
    L["engine.merge_ms"] = float(np.mean(merge_ms)) if merge_ms else 0.0
    for share, ms in covered.items():
        L[share] = ms / wall_ms if wall_ms else 0.0


WORKLOADS = {
    "ingest": ingest,
    "serve_resident": serve_resident,
}
