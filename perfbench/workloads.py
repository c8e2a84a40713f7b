"""The benchmark's workloads, their inputs and their checks.

``BENCHMARK.json`` names ``build_bulk`` and ``query_mix``; ``ingest_mixed``
runs by hand, and one small cycle of it runs in every traced run
(perfbench/README.md says why).

Each workload is a ``setup`` / ``window`` / ``check`` triple over a
:class:`Run`. ``setup`` ends warm: the first build and query of a session
are 1.4-3x slower than later ones, so they happen here and are charged to
``setup_s``. ``window`` is the timed closed loop (one client; the next call
starts when the previous one returned). ``check`` compares what the window
returned with an independent answer and never runs inside a timed call.

Inputs are a pure function of ``--seed``: the corpus comes from
``synthetic_transcripts(seed=...)`` and the queries from :class:`QueryGen`.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

from solr_sematic_importer_spark.functions.analyzer import PROFILES
from solr_sematic_importer_spark.operators import segments
from solr_sematic_importer_spark.operators.block_postings import bm25_topk_wand
from solr_sematic_importer_spark.operators.build import (
    build_and_write_index,
    read_index,
)
from solr_sematic_importer_spark.operators.function_query import recip
from solr_sematic_importer_spark.operators.score import bm25_topk
from solr_sematic_importer_spark.operators.select import select
from solr_sematic_importer_spark.sources.transcripts import (
    _VOCAB,
    synthetic_transcripts,
)
from tests.oracle import OracleIndex

# Layer spans: <module>.<function> of the engine call inside the span.
GET_SPARK = "session.get_spark"
TRANSCRIPTS = "sources.transcripts.synthetic_transcripts"
TF_SERIES = "functions.analyzer.tf_series"
ENCODE = "functions.codec.encode_partition_blocks"
DECODE = "functions.codec.decode_block"
BUILD = "operators.build.build_and_write_index"
READ_INDEX = "operators.build.read_index"
WAND = "operators.block_postings.bm25_topk_wand"
SELECT = "operators.select.select"
APPEND = "operators.segments.append_segment"
DELETES = "operators.segments.record_deletes"
READ_SEG = "operators.segments.read_segmented_index"
COMPACT = "operators.segments.compact"

# Sizes for a 4-core host; every run of a workload uses the same sizes.
BUILD_CONVS = 400        # ~6.7k turns, ~3.7 MB of text
QUERY_CONVS = 300        # ~5k turns, text_general
QUERY_BUCKET_BITS = 5    # 32-doc buckets: ~160 buckets, over 2x WAND's
                         # bucket_batch of 64, so head queries take rounds
INGEST_BASE_CONVS = 400  # base segment written during set-up
INGEST_BATCH_CONVS = 40  # one append per cycle
INGEST_CYCLES = 2        # cycles before the compaction
DELETE_SHARE = 0.01      # of live ids, per cycle
TOP_K = 10
SCORE_TOL = 1e-9         # same tolerance as the engine's oracle tests

# query_mix request classes, in the closed loop's repeating order. The
# repo has no traffic data, so the end-to-end figures do not depend on
# the class counts: p50_s is the rare median, and items_per_s weights the
# three class means equally. Rare requests come twice per cycle because
# their median is p50_s and they are the cheapest.
MIX = ("rare", "head", "rare", "select")
CLASSES = ("rare", "head", "select")

# Least work in a window, whatever --seconds says: three builds, and four
# request cycles (eight rare, four head and four select samples), so that
# one slow call does not move a median or a class mean far.
BUILDS_MIN = 3
CYCLES_MIN = 4


def conv_key(i: int) -> str:
    """conv_id of conversation ``i`` in synthetic_transcripts."""
    return f"conv_{i:08d}"


class QueryGen:
    """Seeded query strings over the generator's Zipf vocabulary.

    - ``rare``: 1-2 tail words (ranks 2,000-10,000; df is tens of turns),
      so the candidate postings are few and WAND takes its one-job path.
      The pool has 8,000 words, so most rare requests bring a term the
      index handle has not looked up yet (a ``term_dfs`` memo miss).
    - ``head``: 2 of the eight most frequent words that survive the
      profile's analyzer (in most turns under ``text_general``) plus 2
      mid-frequency words, run with ``fast_path=False`` so they take
      WAND's iterative rounds. The engine picks those rounds by itself
      only above 20,480 candidate postings per term for k=10, i.e. on a
      corpus of 25k+ turns, whose cold build and oracle a run cannot
      afford. The mid words make bucket bounds differ, so a round can
      skip buckets whose bound is below the top-k threshold.
    - ``select``: 2 mid-frequency words (ranks 50-500), an ``fq`` on
      ``turn_idx``, a ``recip(dl)`` boost and a collapse on ``conv_id``.
      The narrow band keeps the exhaustive scoring cost alike across
      requests, so the select median moves with the engine, not the draw.
    """

    def __init__(self, seed: int, profile: str):
        self.rng = np.random.default_rng([seed, 0x9E37])
        analyze = PROFILES[profile]
        self.head = [w for w in _VOCAB[:200] if analyze(w)][:8]
        self.mid = [w for w in _VOCAB[50:500]
                    if analyze(w) and w not in self.head]
        self.tail = list(_VOCAB[2000:10000])

    def _pick(self, pool, lo: int, hi: int) -> str:
        n = int(self.rng.integers(lo, hi + 1))
        return " ".join(self.rng.choice(pool, size=n, replace=False))

    def make(self, cls: str) -> dict:
        if cls == "rare":
            return {"cls": cls, "q": self._pick(self.tail, 1, 2)}
        if cls == "head":
            q = self._pick(self.head, 2, 2) + " " + self._pick(self.mid, 2, 2)
            return {"cls": cls, "q": q}
        return {
            "cls": cls,
            "q": self._pick(self.mid, 2, 2),
            "min_turn": int(self.rng.integers(1, 4)),
        }


class Run:
    """State of one benchmark run: session, tracer, work directory and the
    tally of checked results."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str,
                 corrupt_one: bool = False):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.corrupt_one = corrupt_one
        self.attempted = 0
        self.failed = 0
        self.figures: dict = {}   # named results of this workload
        self.headline: dict = {}  # this workload's end-to-end values
        self.handles: list = []   # index handles the traced extras read

    def span(self, name: str, request=None):
        return self.tracer.span(name, request)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def rm(self, name: str) -> None:
        shutil.rmtree(self.path(name), ignore_errors=True)

    def window(self, min_calls: int, multiple: int = 1):
        """Yield call numbers until ``seconds`` have been measured and at
        least ``min_calls`` calls were made; the count of calls is a
        multiple of ``multiple``."""
        t0 = time.perf_counter()
        i = 0
        while i < min_calls or i % multiple or time.perf_counter() - t0 < self.seconds:
            yield i
            i += 1

    def verify(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong result: {what}", file=sys.stderr)

    def verify_page(self, got: list, want: list, what: str) -> None:
        """Doc ids must match exactly, scores within SCORE_TOL."""
        if self.corrupt_one:  # self-test: the check must catch this
            self.corrupt_one = False
            got = [(-1, 0.0)] + list(got[1:])
        ok = len(got) == len(want) and all(
            gd == wd and abs(gs - ws) <= SCORE_TOL * max(1.0, abs(ws))
            for (gd, gs), (wd, ws) in zip(got, want)
        )
        self.verify(ok, f"{what}: got {got[:3]}..., want {want[:3]}...")

    def call_failed(self, what: str) -> None:
        """A timed call raised: it counts as attempted and failed."""
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: {what} raised:\n{traceback.format_exc()}",
              file=sys.stderr)


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------


def make_corpus(run: Run, n_convs: int):
    """Persisted transcript corpus -> (DataFrame, turns, UTF-8 text bytes)."""
    with run.span(TRANSCRIPTS):
        df = synthetic_transcripts(run.spark, n_convs, seed=run.seed).persist()
        row = df.agg(
            F.count("*").alias("n"), F.sum(F.octet_length("text")).alias("b")
        ).first()
    return df, int(row["n"]), int(row["b"])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def index_table_bytes(path: str) -> dict:
    """On-disk bytes per table directory of a written index."""
    return {
        t: dir_bytes(os.path.join(path, t))
        for t in sorted(os.listdir(path))
        if os.path.isdir(os.path.join(path, t))
    }


def page(df) -> list:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def select_request(index, req: dict):
    return select(
        index, req["q"],
        fq=F.col("turn_idx") >= req["min_turn"],
        fields=index.doc_stats,
        boost=recip(F.col("dl"), 0.01, 1.0, 1.0),
        collapse_field="conv_id",
        rows=TOP_K,
    ).docs


def run_request(run: Run, index, req: dict, span_name: str):
    """One timed request (call + collect). Returns (page, wall) or None."""
    try:
        with run.span(span_name, request=req["q"]) as sp:
            if req["cls"] == "select":
                got = page(select_request(index, req))
            else:
                got = page(bm25_topk_wand(index, req["q"], k=TOP_K,
                                          fast_path=req["cls"] != "head"))
        return got, sp.wall
    except Exception:
        run.call_failed(f"{req['cls']} request {req['q']!r}")
        return None


def wand_span(cls: str) -> str:
    return f"{WAND}.{cls}"


def request_span(cls: str) -> str:
    return SELECT if cls == "select" else wand_span(cls)


class Oracle:
    """tests/oracle.py over the corpus in doc-id order (key order), plus
    the stored fields select() reads."""

    def __init__(self, run: Run, corpus, profile: str):
        with run.span("bench.oracle"):
            pdf = (
                corpus.select("conv_id", "turn_idx", "text")
                .orderBy("conv_id", "turn_idx")
                .toPandas()
            )
            self.index = OracleIndex(
                list(pdf.itertuples(index=False, name=None)), text_idx=2,
                profile=profile,
            )
        self.conv = pdf["conv_id"].to_numpy()
        self.turn = pdf["turn_idx"].to_numpy()

    def answer(self, req: dict) -> list:
        if req["cls"] == "select":
            return self._select(req)
        return self.index.query(req["q"], k=TOP_K)

    def _select(self, req: dict) -> list:
        """fq on turn_idx, score x recip(dl), best turn per conv_id,
        (score desc, doc_id asc), top-k."""
        oracle, conv, turn = self.index, self.conv, self.turn
        best: dict = {}
        for doc, score in oracle.query(req["q"], k=oracle.n):
            if turn[doc] < req["min_turn"]:
                continue
            boosted = score * (1.0 / (0.01 * float(oracle.dl[doc]) + 1.0))
            cur = best.get(conv[doc])
            if cur is None or (-boosted, doc) < (-cur[1], cur[0]):
                best[conv[doc]] = (doc, boosted)
        return sorted(best.values(), key=lambda x: (-x[1], x[0]))[:TOP_K]


def percentiles(samples: list) -> dict:
    """Median, mean and the highest percentile with at least ten samples
    beyond it (absent below 11 samples), with the sample count."""
    out = {"n": len(samples)}
    if not samples:
        return out
    s = sorted(samples)
    out["p50"] = statistics.median(s)
    out["mean"] = statistics.fmean(s)
    if len(s) >= 11:
        out["tail_pct"] = int(100 * (len(s) - 10) / len(s))
        out["tail"] = s[len(s) - 11]
    return out


# ---------------------------------------------------------------------------
# build_bulk
# ---------------------------------------------------------------------------


class BuildBulk:
    """Warm full-corpus builds (profile text_en); no queries in the
    window."""

    profile = "text_en"

    def setup(self, run: Run) -> dict:
        corpus, n_turns, text_bytes = make_corpus(run, BUILD_CONVS)
        warm = corpus.filter(F.col("conv_id") < conv_key(BUILD_CONVS // 10))
        with run.span(BUILD, request="warm-up"):
            build_and_write_index(warm, run.path("warm"), profile=self.profile)
        run.rm("warm")
        return {"corpus": corpus, "n_turns": n_turns, "text_bytes": text_bytes}

    def window(self, run: Run, st: dict) -> None:
        walls = []
        for i in run.window(min_calls=BUILDS_MIN):
            name = f"build{i % 2}"
            run.rm(name)
            try:
                with run.span(BUILD, request=i) as sp:
                    idx = build_and_write_index(
                        st["corpus"], run.path(name), profile=self.profile
                    )
            except Exception:
                run.call_failed("build_and_write_index")
                continue
            walls.append(sp.wall)
            run.verify(idx.n_docs == st["n_turns"], "n_docs == input turns")
            st["last"] = name
        st["walls"] = walls

    def check(self, run: Run, st: dict) -> None:
        walls = st["walls"]
        tables = index_table_bytes(run.path(st["last"]))
        with run.span(READ_INDEX):
            idx = read_index(run.spark, run.path(st["last"]))
        run.handles.append(idx)
        oracle = Oracle(run, st["corpus"], self.profile)
        gen = QueryGen(run.seed, self.profile)
        req = gen.make("head")
        out = run_request(run, idx, req, request_span("head"))
        if out is not None:
            run.verify_page(out[0], oracle.answer(req),
                            f"head {req['q']!r} on the last build")
        run.figures.update({
            "build_s": percentiles(walls),
            "build_turns_per_s": st["n_turns"] * len(walls) / sum(walls),
            "index_bytes_per_text_byte": sum(tables.values()) / st["text_bytes"],
            "index_bytes": tables,
            "turns": st["n_turns"],
            "text_bytes": st["text_bytes"],
        })
        run.headline = {
            "p50_s": statistics.median(walls),
            "items_per_s": run.figures["build_turns_per_s"],
            "index_bytes_per_text_byte": run.figures["index_bytes_per_text_byte"],
        }


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


class QueryMix:
    """A closed loop of top-10 requests over one index built in set-up."""

    profile = "text_general"

    def setup(self, run: Run) -> dict:
        corpus, _, text_bytes = make_corpus(run, QUERY_CONVS)
        with run.span(BUILD, request="set-up"):
            build_and_write_index(corpus, run.path("index"), profile=self.profile,
                                  bucket_bits=QUERY_BUCKET_BITS)
        with run.span(READ_INDEX):
            idx = read_index(run.spark, run.path("index"))
        run.handles.append(idx)
        st = {"corpus": corpus, "idx": idx, "text_bytes": text_bytes,
              "gen": QueryGen(run.seed, self.profile), "seen": set()}
        # warm-up: one request per class; its terms enter the df memo
        for cls in CLASSES:
            req = st["gen"].make(cls)
            self._note_terms(st, req)
            if run_request(run, idx, req, request_span(cls)) is None:
                raise RuntimeError(f"warm-up {cls} request failed")
        return st

    def _note_terms(self, st: dict, req: dict) -> bool:
        """True when the request brings a term the handle has not looked
        up yet, i.e. a miss in the index's term_dfs memo."""
        terms = set(PROFILES[self.profile](req["q"]))
        miss = not terms <= st["seen"]
        st["seen"] |= terms
        return miss

    def window(self, run: Run, st: dict) -> None:
        log = []
        t0 = time.perf_counter()
        for i in run.window(min_calls=len(MIX) * CYCLES_MIN, multiple=len(MIX)):
            req = st["gen"].make(MIX[i % len(MIX)])
            req["miss"] = self._note_terms(st, req)
            out = run_request(run, st["idx"], req, request_span(req["cls"]))
            if out is not None:
                req["page"], req["wall"] = out
                log.append(req)
        st["window_s"] = time.perf_counter() - t0
        st["log"] = log

    def check(self, run: Run, st: dict) -> None:
        log = st["log"]
        oracle = Oracle(run, st["corpus"], self.profile)
        answers: dict = {}
        for req in log:
            key = (req["cls"], req["q"], req.get("min_turn"))
            if key not in answers:
                answers[key] = oracle.answer(req)
            run.verify_page(req["page"], answers[key], f"{req['cls']} {req['q']!r}")
        by_cls = {c: [r["wall"] for r in log if r["cls"] == c] for c in CLASSES}
        tables = index_table_bytes(run.path("index"))
        run.figures.update({
            "request_s": percentiles([r["wall"] for r in log]),
            "topk_s": percentiles(by_cls["rare"] + by_cls["head"]),
            "rare_s": percentiles(by_cls["rare"]),
            "head_s": percentiles(by_cls["head"]),
            "select_s": percentiles(by_cls["select"]),
            "class_share": {
                c: round(len(v) / len(log), 3) for c, v in by_cls.items()
            },
            "memo_miss_share": round(sum(r["miss"] for r in log) / len(log), 3),
            "requests": len(log),
            "window_requests_per_s": len(log) / st["window_s"],
            "buckets": -(-int(st["idx"].n_docs) >> QUERY_BUCKET_BITS),
            "index_bytes_per_text_byte": sum(tables.values()) / st["text_bytes"],
            "index_bytes": tables,
        })
        run.headline = {
            # the rare class alone: the median of a mix of classes lands
            # between class clusters and jumps from run to run
            "p50_s": statistics.median(by_cls["rare"]),
            # the rate of a client sending one request of each class. Class
            # means, not medians: a window holds four or five head and
            # select samples, and the mean of so few draws varies less from
            # run to run than their median does
            "items_per_s": len(CLASSES) / sum(
                statistics.fmean(v) for v in by_cls.values()),
            "index_bytes_per_text_byte": run.figures["index_bytes_per_text_byte"],
        }


# ---------------------------------------------------------------------------
# ingest_mixed
# ---------------------------------------------------------------------------


class IngestMixed:
    """Appends, deletes and reads on the log-structured segment path, then
    a compaction. Set-up appends a base segment; each of ``cycles``
    cycles appends a small batch, records deletes of ~1% of live ids,
    opens the segmented index and runs a rare and a head WAND top-10
    query while the deletes are pending. A traced run of another workload
    runs one small cycle of it to cover the segment layers
    (:func:`perfbench.layers.cover_missing`)."""

    profile = "text_en"  # append_segment's default

    def __init__(self, base_convs: int = INGEST_BASE_CONVS,
                 batch_convs: int = INGEST_BATCH_CONVS,
                 cycles: int = INGEST_CYCLES, root: str = "segments"):
        self.base_convs = base_convs
        self.batch_convs = batch_convs
        self.cycles = cycles
        self.root = root

    def setup(self, run: Run, corpus=None) -> dict:
        """``corpus`` must hold conv_key(0) .. the last batch's convs;
        without one, the seeded corpus of that size is made here."""
        if corpus is None:
            n_convs = self.base_convs + self.batch_convs * self.cycles
            corpus, _, _ = make_corpus(run, n_convs)
        st = {"corpus": corpus, "root": run.path(self.root),
              "gen": QueryGen(run.seed, self.profile),
              "rng": np.random.default_rng([run.seed, 0xDE1]),
              "live": np.empty(0, dtype=np.int64),
              "deleted": np.empty(0, dtype=np.int64),
              "op_s": 0.0, "append_s": [], "append_bytes": [], "appended": 0,
              "seg_topk_s": []}
        self._append(run, st, "base", 0, self.base_convs)
        # warm-up: open the segmented index and run one query of each class
        with run.span(READ_SEG):
            h = segments.read_segmented_index(run.spark, st["root"])
        for cls in ("rare", "head"):
            if run_request(run, h, st["gen"].make(cls), wand_span(cls)) is None:
                raise RuntimeError(f"warm-up {cls} query failed")
        h.release()
        st["op_s"] = 0.0  # the base append belongs to set-up
        return st

    def _timed(self, run: Run, st: dict, name: str, fn, request=None):
        """A write-path call; its wall time counts toward the window."""
        with run.span(name, request=request) as sp:
            out = fn()
        st["op_s"] += sp.wall
        return out, sp.wall

    def _append(self, run: Run, st: dict, key: str, lo: int, hi: int):
        batch = st["corpus"].filter(
            (F.col("conv_id") >= conv_key(lo)) & (F.col("conv_id") < conv_key(hi))
        )
        res, wall = self._timed(
            run, st, APPEND,
            lambda: segments.append_segment(run.spark, st["root"], key, batch),
            request=key,
        )
        st["live"] = np.concatenate(
            [st["live"], np.arange(res.doc_id_offset, res.doc_id_offset + res.n_docs)]
        )
        st["append_bytes"].append(dir_bytes(f"{st['root']}/segments/{key}"))
        return res.n_docs, wall

    def window(self, run: Run, st: dict) -> None:
        """``cycles`` cycles, then ``compact``. The corpus holds exactly
        that many batches, so the window is a fixed amount of work."""
        spark = run.spark
        for c in range(self.cycles):
            lo = self.base_convs + c * self.batch_convs
            try:
                n, wall = self._append(run, st, f"cycle{c}", lo,
                                       lo + self.batch_convs)
                st["appended"] += n
                st["append_s"].append(wall)
                n_del = max(1, int(len(st["live"]) * DELETE_SHARE))
                dels = np.sort(st["rng"].choice(st["live"], size=n_del, replace=False))
                dels_df = spark.createDataFrame([(int(d),) for d in dels], "doc_id long")
                self._timed(run, st, DELETES,
                            lambda: segments.record_deletes(spark, st["root"], dels_df))
                st["live"] = np.setdiff1d(st["live"], dels)
                st["deleted"] = np.union1d(st["deleted"], dels)
                h, _ = self._timed(
                    run, st, READ_SEG,
                    lambda: segments.read_segmented_index(spark, st["root"]),
                )
            except Exception:
                run.call_failed(f"ingest cycle {c}")
                continue
            for cls in ("rare", "head"):
                req = st["gen"].make(cls)
                out = run_request(run, h, req, wand_span(cls))
                if out is None:
                    continue
                st["op_s"] += out[1]
                st["seg_topk_s"].append(out[1])
                self._check_query(run, st, h, req, out[0])
            h.release()
        try:
            _, st["compact_s"] = self._timed(
                run, st, COMPACT, lambda: segments.compact(spark, st["root"])
            )
        except Exception:
            run.call_failed("compact")

    def _check_query(self, run: Run, st: dict, h, req: dict, got: list) -> None:
        """WAND must equal exhaustive bm25_topk on the same handle, and no
        deleted doc may come back. Runs before the next write, outside
        ``op_s``."""
        with run.span("bench.check"):
            want = page(bm25_topk(h, req["q"], k=TOP_K))
        run.verify_page(got, want, f"segmented WAND {req['q']!r} vs exhaustive")
        back = np.intersect1d([d for d, _ in got], st["deleted"])
        run.verify(back.size == 0, f"deleted doc ids returned: {back.tolist()}")

    def verify_compacted(self, run: Run, st: dict):
        """After compaction ``n_docs`` must equal the live count. Returns
        the compacted index handle."""
        with run.span(READ_SEG):
            h = segments.read_segmented_index(run.spark, st["root"])
        run.verify(h.n_docs == len(st["live"]),
                   f"n_docs after compaction {h.n_docs} != live {len(st['live'])}")
        return h

    def check(self, run: Run, st: dict) -> None:
        spark = run.spark
        h = self.verify_compacted(run, st)
        run.handles.append(h)
        man = segments.read_manifest(spark, st["root"])
        disk = sum(dir_bytes(d) for d in man["segment_dir"])
        live_text = (
            st["corpus"].join(h.doc_stats.select("conv_id", "turn_idx"),
                              ["conv_id", "turn_idx"])
            .agg(F.sum(F.octet_length("text")).alias("b")).first()["b"]
        )
        run.figures.update({
            "append_s": percentiles(st["append_s"]),
            "append_turns_per_s": st["appended"] / sum(st["append_s"]),
            "compact_turns_per_s": h.n_docs / st["compact_s"],
            "seg_topk_s": percentiles(st["seg_topk_s"]),
            "append_bytes": statistics.median(st["append_bytes"][1:]),
            "live_turns": int(h.n_docs),
            "deleted_turns": int(len(st["deleted"])),
            "index_bytes_per_text_byte": disk / live_text,
        })
        run.headline = {
            "p50_s": statistics.median(st["seg_topk_s"]),
            "items_per_s": st["appended"] / st["op_s"],
            "index_bytes_per_text_byte": disk / live_text,
        }


WORKLOADS = {
    "build_bulk": BuildBulk,
    "query_mix": QueryMix,
    "ingest_mixed": IngestMixed,
}
