"""Per-layer figures of a traced run.

Three layers are pure Python and are timed in-process on inputs taken from
the run: ``tf_series`` on corpus turns, ``encode_partition_blocks`` on the
postings that analysis produced, and ``decode_block`` on block rows read
from the index the run built. Every other layer is a Spark call and
reports the counters of :data:`tracer.SPARK_COUNTERS`.

Every traced run reports every per-layer metric. A layer that the
workload does not call (the segment operators in ``build_bulk``, say) is
called on a small input after the workload has finished, so its figures
come from a real call; those spans sit under ``phase.extra_layers`` in the
span file. The segment layers are covered by one checked cycle of
``ingest_mixed``.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from solr_sematic_importer_spark.functions.analyzer import tf_series
from solr_sematic_importer_spark.functions.codec import (
    decode_block,
    encode_partition_blocks,
)
from solr_sematic_importer_spark.functions.similarity import (
    B_DEFAULT,
    K1_DEFAULT,
    LENGTH_TABLE,
    encode_norms,
)
from solr_sematic_importer_spark.operators.build import (
    build_and_write_index,
    read_index,
)

from . import workloads as wl
from .tracer import SPARK_COUNTERS

MICRO_TURNS = 2000     # turns analyzed / encoded in-process
MICRO_BLOCKS = 3000    # block rows decoded in-process
MICRO_REPEATS = 3      # median of this many timings
EXTRA_CONVS = 60       # input of the calls that cover missing layers
EXTRA_BATCH_CONVS = 10  # of which the ingest cycle's append

# Counters reported per Spark layer (<= 128 per-layer metrics in total).
# Cheap calls keep the counters that can move; a call with no Python stage
# (read_segmented_index) reports no Python times.
FULL = SPARK_COUNTERS
COUNTERS = {
    wl.GET_SPARK: ("wall_s", "jobs", "executor_run_s", "python_boot_s"),
    wl.TRANSCRIPTS: ("wall_s", "jobs", "tasks", "executor_run_s", "python_s"),
    wl.BUILD: FULL,
    wl.READ_INDEX: ("wall_s", "jobs", "driver_gap_s"),
    wl.wand_span("rare"): FULL,
    wl.wand_span("head"): FULL,
    wl.SELECT: FULL,
    wl.APPEND: FULL,
    wl.DELETES: ("wall_s", "jobs", "tasks", "executor_run_s", "driver_gap_s"),
    wl.READ_SEG: ("wall_s", "jobs", "stages", "executor_run_s", "driver_gap_s"),
    wl.COMPACT: FULL,
}
INDEX_TABLES = ("doc_stats", "postings_blocks", "term_stats")


def metric_names() -> list[str]:
    names = []
    for layer, counters in COUNTERS.items():
        names += [f"{layer}.{c}" for c in counters]
    names += [f"{wl.TF_SERIES}.wall_s", "functions.analyzer.tokens_per_s",
              f"{wl.ENCODE}.wall_s", "functions.codec.encode_postings_per_s",
              f"{wl.DECODE}.wall_s", "functions.codec.decode_postings_per_s"]
    names += [f"operators.build.index_bytes.{t}" for t in INDEX_TABLES]
    names.append(f"{wl.APPEND}.bytes_written")
    return names


def metric_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("task_skew"):
        return "ratio"
    return "count"


def _median_time(fn) -> float:
    walls = []
    for _ in range(MICRO_REPEATS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def micro(run, corpus, profile: str, blocks_df) -> dict:
    """Time the three in-process layers; returns their figures."""
    texts = (
        corpus.select("text").orderBy("conv_id", "turn_idx")
        .limit(MICRO_TURNS).toPandas()["text"]
    )
    out = {}
    with run.span(wl.TF_SERIES):
        terms, tfs, dl = tf_series(texts, profile)
        wall = _median_time(lambda: tf_series(texts, profile))
    out[f"{wl.TF_SERIES}.wall_s"] = wall
    out["functions.analyzer.tokens_per_s"] = int(dl.sum()) / wall

    # postings of those turns, sorted by (term, bucket, doc_id) as the
    # build's shuffle hands them to the encoder
    doc = np.repeat(np.arange(len(texts), dtype=np.int64), terms.map(len).to_numpy())
    term = np.asarray([t for ts in terms for t in ts], dtype=object)
    tf = np.asarray([x for xs in tfs for x in xs], dtype=np.int64)
    order = np.lexsort((doc, term))
    doc, term, tf = doc[order], term[order], tf[order]
    norms = encode_norms(dl.to_numpy()[doc])
    avgdl = float(dl.mean())
    impacts = tf / (tf + K1_DEFAULT * (1 - B_DEFAULT + B_DEFAULT
                                       * LENGTH_TABLE[norms] / avgdl))
    buckets = np.zeros_like(doc)
    with run.span(wl.ENCODE):
        wall = _median_time(lambda: encode_partition_blocks(
            term, buckets, doc, tf, norms, impacts))
    out[f"{wl.ENCODE}.wall_s"] = wall
    out["functions.codec.encode_postings_per_s"] = doc.size / wall

    rows = (
        blocks_df.select("first_doc", "doc_bytes", "tf_bytes", "norm_bytes", "cnt")
        .limit(MICRO_BLOCKS).collect()
    )
    blocks = [(int(r[0]), bytes(r[1]), bytes(r[2]), bytes(r[3])) for r in rows]
    postings = sum(int(r[4]) for r in rows)

    def decode_all():
        for b in blocks:
            decode_block(*b)

    with run.span(wl.DECODE):
        wall = _median_time(decode_all)
    out[f"{wl.DECODE}.wall_s"] = wall
    out["functions.codec.decode_postings_per_s"] = postings / wall
    return out


def cover_missing(run, corpus) -> dict:
    """Call once, on a small input, each Spark layer the workload did not
    call. Returns figures that only these calls produce."""
    called = {sp.name for sp in run.tracer.spans}
    small = corpus.filter(F.col("conv_id") < wl.conv_key(EXTRA_CONVS))
    out = {}
    if {wl.BUILD, wl.READ_INDEX} - called:
        path = run.path("extra_index")
        with run.span(wl.BUILD, request="extra"):
            build_and_write_index(small, path, profile="text_en")
        out["tables"] = wl.index_table_bytes(path)
        with run.span(wl.READ_INDEX):
            idx = read_index(run.spark, path)
    else:
        idx = run.handles[-1]  # the index the workload built and read
    gen = wl.QueryGen(run.seed, idx.profile)
    for cls in ("rare", "head", "select"):
        if wl.request_span(cls) not in called:
            wl.run_request(run, idx, gen.make(cls), wl.request_span(cls))
    if {wl.APPEND, wl.DELETES, wl.READ_SEG, wl.COMPACT} - called:
        # one ingest_mixed cycle and its compaction, with its checks
        ingest = wl.IngestMixed(base_convs=EXTRA_CONVS - EXTRA_BATCH_CONVS,
                                batch_convs=EXTRA_BATCH_CONVS, cycles=1,
                                root="extra_segments")
        st = ingest.setup(run, corpus)
        ingest.window(run, st)
        ingest.verify_compacted(run, st).release()
        out["append_bytes"] = statistics.median(st["append_bytes"][1:])
    return out


def collect(run, figures: dict) -> dict:
    """Every per-layer metric of the run, by name: the per-call median
    over the window's calls of a layer, or over all its calls when the
    window makes none."""
    tr = run.tracer
    out = {}
    for layer, counters in COUNTERS.items():
        med = tr.layer_medians(layer, "phase.window")
        for c in counters:
            out[f"{layer}.{c}"] = med.get(c, 0.0)
    tables = run.figures.get("index_bytes") or figures.get("tables", {})
    for t in INDEX_TABLES:
        out[f"operators.build.index_bytes.{t}"] = tables.get(t, 0)
    out[f"{wl.APPEND}.bytes_written"] = (
        run.figures.get("append_bytes") or figures.get("append_bytes", 0)
    )
    names = set(metric_names())
    out.update({k: v for k, v in figures.items() if k in names})
    return out
