"""Per-layer metrics of a traced run, and the probes that reach layers a
workload does not exercise by itself.

Every per-layer metric is a median over the spans of one public call
(or a property of the files it wrote). The layer of a span is the part
of its name before the first dot; ``bench`` spans are the client's own
work around the calls.
"""

from __future__ import annotations

import os
import random
import time

from perfbench.measure import median
from perfbench.trace import self_times

LAYERS = ("bench", "session", "analyzer", "spimi", "codec", "termindex",
          "wand", "query")
CODEC_SAMPLE_ROWS = 400


def _probe_request(b, kind: str) -> None:
    req = next(r for r in b.inputs.requests if r.kind == kind)
    b._request(req, record=False)


def probe_missing_layers(b) -> None:
    """Run, traced and outside the timed section, one call of each layer
    the body did not reach. Names of probed calls go to ``b.probed``."""
    tx = b.tracer
    tx.enabled = True
    spark = b.spark

    from gazetteer_spark.analyzer import postings_positions_arrow

    # the analyzer alone: JVM tokenizer + Arrow fold into a sink that
    # writes nothing
    with tx.span("analyzer.postings_positions_arrow"):
        (postings_positions_arrow(spark.read.parquet(b.src))
         .write.format("noop").mode("overwrite").save())
    b.probed.add("analyzer.postings_positions_arrow")
    _codec_probe(b)

    if not tx.named("spimi.add_documents"):
        c = len(b.cycles)
        b.cycles.append(b._cycle(c, b.inputs.batches[c]))
        b.probed.update(("spimi.add_documents", "spimi.delete_documents",
                         "spimi.committed_segments",
                         "termindex.refresh_term_layout"))
    if not tx.named("wand.topk"):
        # the wand reader serves the index as it is now; the request is
        # not checked against the base-corpus oracle
        with tx.span("wand.reader_open"):
            b.wreader = b.wand.IndexReader(spark, b.idx)
        _probe_request(b, "ranked_wand")
        b.wreader.close()
        b.probed.update(("wand.reader_open", "wand.topk"))
    for name, kind in (("termindex.topk", "ranked_layout"),
                       ("termindex.search", "boolean"),
                       ("termindex.phrase_match", "phrase")):
        if not tx.named(name):
            _probe_request(b, kind)
            b.probed.add(name)
    if not b.n_pairs:
        # no body request completed a pair (a failed refresh cycle)
        req = next(r for r in b.inputs.requests if r.kind == "ranked_layout")
        b._send(req, cycle=len(b.cycles) - 1 if b.cycles else None)
        b.probed.add("trace.overhead")


def _codec_probe(b) -> None:
    """Driver-side decode of a seeded sample of the layout's posting and
    position blobs: ns per posting and stored bytes per posting."""
    import pyarrow.parquet as pq

    from gazetteer_spark.index.codec import decode_positions, decode_postings

    with b.tracer.span("codec.decode", spark_call=False):
        t = pq.read_table(os.path.join(b.lay, "terms"),
                          columns=["postings", "positions"])
        rng = random.Random(f"{b.args.seed}:codec")
        rows = rng.sample(range(t.num_rows), min(CODEC_SAMPLE_ROWS, t.num_rows))
        post = t.column("postings").to_pylist()
        pos = t.column("positions").to_pylist()
        blobs = [(post[i], pos[i] or b"") for i in rows]
        n = nbytes = 0
        t0 = time.perf_counter_ns()
        for pb, qb in blobs:
            _, tfs = decode_postings(pb)
            decode_positions(qb, tfs)
            n += len(tfs)
        dt = time.perf_counter_ns() - t0
        nbytes = sum(len(pb) + len(qb) for pb, qb in blobs)
    b.codec = {"ns_per_posting": dt / n, "bytes_per_posting": nbytes / n}
    b.probed.add("codec.decode")


def _postings_built(index_dir: str) -> int:
    """(docid, term) rows the fold emitted for the base corpus, as the
    build recorded them in its manifest (the noop sink counts nothing)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(index_dir, "manifest"),
                      columns=["generation", "n_postings"])
    gen0 = t.filter(pc.equal(t["generation"], 0))
    return pc.sum(gen0["n_postings"]).as_py()


def per_layer(b) -> dict[str, tuple[float, str]]:
    tx = b.tracer

    def spans(name):
        got = tx.named(name)
        if not got:
            raise RuntimeError(f"no traced call of {name}")
        return got

    def med(name, f):
        return median([f(s) for s in spans(name)])

    build = spans("spimi.build_index")[0]
    layout = spans("termindex.build_term_layout")[0]
    analyzer = spans("analyzer.postings_positions_arrow")[0]
    req_ids = {s["id"] for s in b.samples if s["traced"]}
    requests = [s for s in tx.named("bench.request") if s.request in req_ids]
    selfs = self_times(tx.spans)
    self_by_layer = dict.fromkeys(LAYERS, 0.0)
    for s in tx.spans:
        self_by_layer[s.name.split(".")[0]] += selfs[s.id]
    pairs: dict[int, dict[bool, float]] = {}
    for s in b.samples:
        if s["pair"] is not None:
            pairs.setdefault(s["pair"], {})[s["traced"]] = s["lat"]
    overhead = [p[True] - p[False] for p in pairs.values() if len(p) == 2]
    refresh_bytes = [c["refresh_bytes"] for c in b.cycles
                     if c.get("refresh_bytes")]

    m = {
        "session.start_s": (med("session.get_spark", lambda s: s.dur), "s"),
        "analyzer.fold_s": (analyzer.dur, "s"),
        "analyzer.exec_run_s": (analyzer.exec_run_ms / 1000, "s"),
        "analyzer.rows_out": (_postings_built(b.idx), "count"),
        "spimi.build_s": (build.dur, "s"),
        "spimi.build_driver_s": (build.driver_s, "s"),
        "spimi.build_jobs": (build.jobs, "count"),
        "spimi.build_tasks": (build.tasks, "count"),
        "spimi.build_exec_run_s": (build.exec_run_ms / 1000, "s"),
        "spimi.build_shuffle_bytes": (build.shuffle_write_bytes, "bytes"),
        "spimi.segment_bytes": (b.segment_bytes, "bytes"),
        "spimi.add_s": (med("spimi.add_documents", lambda s: s.dur), "s"),
        "spimi.add_jobs": (med("spimi.add_documents", lambda s: s.jobs), "count"),
        "spimi.delete_s": (med("spimi.delete_documents", lambda s: s.dur), "s"),
        "spimi.manifest_read_ms": (
            med("spimi.committed_segments", lambda s: 1e3 * s.dur), "ms"),
        "codec.decode_ns_per_posting": (b.codec["ns_per_posting"], "ns"),
        "codec.bytes_per_posting": (b.codec["bytes_per_posting"], "bytes"),
        "termindex.build_s": (layout.dur, "s"),
        "termindex.build_driver_s": (layout.driver_s, "s"),
        "termindex.build_shuffle_bytes": (layout.shuffle_write_bytes, "bytes"),
        "termindex.build_exec_run_s": (layout.exec_run_ms / 1000, "s"),
        "termindex.layout_bytes": (b.layout_bytes, "bytes"),
        "termindex.refresh_s": (
            med("termindex.refresh_term_layout", lambda s: s.dur), "s"),
        "termindex.refresh_bytes_written": (median(refresh_bytes), "bytes"),
        "termindex.reader_open_s": (
            med("termindex.reader_open", lambda s: s.dur), "s"),
        "termindex.topk_ms": (med("termindex.topk", lambda s: 1e3 * s.dur), "ms"),
        "termindex.topk_jobs": (med("termindex.topk", lambda s: s.jobs), "count"),
        "termindex.topk_driver_ms": (
            med("termindex.topk", lambda s: 1e3 * s.driver_s), "ms"),
        "termindex.search_ms": (
            med("termindex.search", lambda s: 1e3 * s.dur), "ms"),
        "termindex.search_jobs": (
            med("termindex.search", lambda s: s.jobs), "count"),
        "termindex.phrase_ms": (
            med("termindex.phrase_match", lambda s: 1e3 * s.dur), "ms"),
        "wand.topk_ms": (med("wand.topk", lambda s: 1e3 * s.dur), "ms"),
        "wand.topk_jobs": (med("wand.topk", lambda s: s.jobs), "count"),
        "wand.reader_open_s": (med("wand.reader_open", lambda s: s.dur), "s"),
        "query.parse_us": (med("query.parse", lambda s: 1e6 * s.dur), "us"),
        "spark.jobs_per_request": (
            median([tx.rollup(s)["jobs"] for s in requests]), "count"),
        "spark.shuffle_bytes_per_request": (
            median([tx.rollup(s)["shuffle_write_bytes"] for s in requests]),
            "bytes"),
        "trace.overhead_ms": (1e3 * median(overhead), "ms"),
    }
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (self_by_layer[layer], "s")
    return m
