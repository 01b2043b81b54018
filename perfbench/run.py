"""The repository benchmark: serve and refresh workloads over a seeded
corpus, driven by one closed-loop client on ``local[<nproc>]``.

Run from the repository root (Python workers import the engine from it):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones named in ``BENCHMARK.json``; with
``--trace 1`` they are the per-layer ones, read from spans the run records
around each call into the engine (see ``trace.py``). The line before it
is a ``{"diagnostics": ...}`` object: sample counts, the host's CPU steal
fraction during the timed section, and which per-layer figures came from
a layer probe rather than the workload itself.

Workloads (both build the same seeded base corpus during set-up):

- ``serve``: read-only. Set-up builds the index and the positional term
  layout, opens a warm ``TermLayoutReader`` and ``wand.IndexReader``,
  sends one untimed rotation of requests to warm the JVM, then the body
  sends single requests in the same fixed rotation of request shapes
  (ranked via layout and via wand, boolean front door, phrase, NEAR), in
  whole rotations until the run's seconds are spent.
- ``refresh``: writes beside reads. Set-up warms the ranked read path;
  then each cycle adds a batch of files, deletes a few old ones,
  refreshes the layout to a new snapshot, opens a new reader, probes
  freshness (the added file's ``uniq_<i>`` must hit, the deleted file's
  must not) and sends six ranked requests on the new reader, in whole
  cycles until the run's seconds are spent.

Request latency is reported as the mean over the run's requests
(``query_mean_ms``): every run sends the same mix of request shapes, whose
latencies fall in well-separated groups (ranked well below boolean), and
a median of such a mix lands between the groups and jumps from run to
run. The mean also moves when any one request class gets faster. The
median and the highest tail percentile the sample count allows are in the
diagnostics line.

Results are checked after the timed section, untimed: ranked and boolean
answers against ``oracle.OracleIndex`` (score desc, docid asc, 4 dp), over
the matching set ``query.match_scan`` gives for boolean and NEAR requests;
phrase answers against a token-run match of the same files. A request or
cycle that raises or returns a wrong answer counts as failed.

In a traced run, every other request in the body runs untraced; the gap
between the two medians is the tracing overhead. Layers the workload does
not reach on its own (writes on ``serve``, wand on ``refresh``, the
analyzer and codec everywhere) are exercised once by a probe after the
timed section, so every per-layer metric has a value on both workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    sys.path.insert(0, ROOT)    # run as a script: make the repo importable

from perfbench import gen  # noqa: E402
from perfbench.layers import per_layer, probe_missing_layers  # noqa: E402
from perfbench.measure import (  # noqa: E402
    cpu_ticks, dir_bytes, median, peak_rss_mb, steal_fraction, tail)
from perfbench.trace import Tracer  # noqa: E402

# sizes: set-up is dominated by JVM start and the first (cold) build, so
# the corpus is sized for a run of about a minute on a 4-CPU host
N_BASE = 800
N_SHARDS = 4
N_BUCKETS = 4
TOPK = 10
BATCH_ADDS = 20
BATCH_DELETES = 3
N_BATCHES = 12
MIN_CYCLES = 1    # a refresh run measures at least one cycle
# refresh reads per cycle: two of each ranked layout shape of the rotation
READS_PER_CYCLE = 6
N_REQUESTS = 600
WARM_ROTATIONS = 1    # serve: untimed rotations before the body
N_RANKED_SHAPES = sum(k == "ranked_layout" for k, _ in gen.ROTATION)
# a small driver heap keeps lazy heap growth (GC timing) out of
# peak_rss_mb and leaves memory to the other processes on a shared host
DRIVER_MEM = "1g"
SCORE_TOL = 1e-4 + 1e-9   # one unit in the 4th decimal: a rounding flip


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    work directory, and let Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (its launcher too): temp files in the
    # work dir and no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def _check_names(metrics: dict, section: str) -> None:
    """The metrics a run prints must be exactly those BENCHMARK.json
    declares for its mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        want = [m["name"] for m in json.load(f)[section]]
    if sorted(metrics) != sorted(want):
        raise RuntimeError(f"{section} metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(want))}")


def _has_run(tokens: list[str], run: list[str]) -> bool:
    n = len(run)
    return any(tokens[i:i + n] == run for i in range(len(tokens) - n + 1))


def _rows_ranked(rows) -> list[tuple[int, int, float]]:
    return sorted((int(r["rank"]), int(r["docid"]), float(r["score"]))
                  for r in rows)


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.tracer = Tracer(bool(args.trace))
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.samples: list[dict] = []     # one per request
        self.cycles: list[dict] = []      # refresh only
        self.probed: set[str] = set()
        self.setup_parts: dict[str, float] = {}
        self.n_pairs = 0

    # -- set-up --------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.inputs = gen.generate(
            self.args.seed, N_BASE, N_REQUESTS, N_BATCHES, BATCH_ADDS,
            BATCH_DELETES)
        self.ranked = [r for r in self.inputs.requests
                       if r.kind == "ranked_layout"]
        # the corpus arrives as part files, so the scan splits across
        # every core (one small file would be a single input split)
        self.src = os.path.join(self.work, "base")
        os.makedirs(self.src)
        parts = 2 * os.cpu_count()
        for p in range(parts):
            rows = self.inputs.base[p::parts]
            pq.write_table(pa.table({
                "docid": pa.array([d for d, _ in rows], pa.int64()),
                "content": [c for _, c in rows],
            }), os.path.join(self.src, f"part-{p:03d}.parquet"))
        t1 = time.perf_counter()
        from gazetteer_spark.session import get_spark

        with self.tracer.span("session.get_spark", spark_call=False):
            self.spark = get_spark(
                "perfbench", cores=os.cpu_count(),
                extra_conf={"spark.ui.showConsoleProgress": "false"})
        self.tracer.bind(self.spark)
        t2 = time.perf_counter()
        from gazetteer_spark.index import spimi, termindex, wand

        self.spimi, self.termindex, self.wand = spimi, termindex, wand
        self.idx = os.path.join(self.work, "index")
        self.lay = os.path.join(self.work, "layout0")
        docs = self.spark.read.parquet(self.src)
        with self.tracer.span("spimi.build_index"):
            spimi.build_index(self.spark, docs, self.idx, n_shards=N_SHARDS,
                              positions=True, doclens=True)
        with self.tracer.span("termindex.build_term_layout"):
            termindex.build_term_layout(self.spark, self.idx, self.lay,
                                        n_buckets=N_BUCKETS, positions=True)
        t3 = time.perf_counter()
        self.segment_bytes = dir_bytes(os.path.join(self.idx, "segments"))
        self.layout_bytes = dir_bytes(self.lay)
        self.reader = self._open_layout(self.lay)
        self.wreader = None
        if self.workload == "serve":
            with self.tracer.span("wand.reader_open"):
                self.wreader = wand.IndexReader(self.spark, self.idx)
        # bulk-load freshness: from the build call until a probe for a
        # base file's marker hits on the opened reader
        probe = self.inputs.setup_probe
        rows = self._request(
            gen.Request("ranked_layout", f"uniq_{probe}"), record=False)[0]
        t4 = time.perf_counter()
        self.setup_probe_ok = bool(rows) and rows[0][1] == probe
        self._warm_up()
        t5 = time.perf_counter()
        self.setup_parts = {"gen_s": t1 - t0, "session_s": t2 - t1,
                            "build_s": t3 - t2, "open_probe_s": t4 - t3,
                            "warmup_s": t5 - t4}
        self.setup_s = t5 - t0
        self.build_s = t3 - t2
        self.setup_lag_s = t4 - t2
        self.source_bytes = sum(len(c.encode()) for _, c in self.inputs.base)

    def _warm_up(self) -> None:
        """Send untimed, unchecked requests before the body, so that it
        times a warm JVM (JIT-compiled code, generated code cached per plan
        shape) and not the first run of each shape: ``serve`` sends the
        first rotations of its requests, ``refresh`` the first ranked read
        of each shape. Part of set-up time, so work a change moves from
        the body into the first requests still shows."""
        if self.workload == "serve":
            warm = self.inputs.requests[:WARM_ROTATIONS * len(gen.ROTATION)]
        else:
            warm = self.ranked[:N_RANKED_SHAPES]
            self.ranked = self.ranked[N_RANKED_SHAPES:]
        on, self.tracer.enabled = self.tracer.enabled, False
        for req in warm:
            self._request(req, record=False)
        self.tracer.enabled = on

    def _open_layout(self, path: str):
        with self.tracer.span("termindex.reader_open"):
            return self.termindex.TermLayoutReader(self.spark, path)

    # -- one request ---------------------------------------------------

    def _call(self, req):
        from gazetteer_spark import query

        tx, reader, lay = self.tracer, self.reader, self.lay
        if req.kind == "ranked_layout":
            with tx.span("termindex.topk"):
                return _rows_ranked(reader.topk([(0, req.text)], k=TOPK).collect())
        if req.kind == "ranked_wand":
            with tx.span("wand.topk"):
                return _rows_ranked(
                    self.wreader.topk([(0, req.text)], k=TOPK).collect())
        if req.kind == "boolean":
            with tx.span("query.parse", spark_call=False):
                query.parse(req.text)
            with tx.span("termindex.search"):
                return _rows_ranked(reader.search([(0, req.text)], k=TOPK).collect())
        if req.kind == "phrase":
            with tx.span("termindex.phrase_match"):
                rows = self.termindex.phrase_match(
                    self.spark, lay, [(0, req.text)], table=reader.table).collect()
            return sorted(int(r["docid"]) for r in rows)
        with tx.span("termindex.near_match_n"):
            rows = self.termindex.near_match_n(
                self.spark, lay, [(0, list(req.terms))], k=req.k,
                table=reader.table).collect()
        return sorted(int(r["docid"]) for r in rows)

    def _request(self, req, record=True, cycle=None, pair=None):
        """Send one request; ``record`` keeps it as a checked sample.
        Returns (answer or None, latency s)."""
        rid = len(self.samples) if record else -1
        t = time.perf_counter()
        err = None
        got = None
        with self.tracer.span("bench.request", request=rid, spark_call=False):
            try:
                got = self._call(req)
            except Exception:
                err = traceback.format_exc()
                print(f"perfbench: request {req} failed:\n{err}",
                      file=sys.stderr)
        lat = time.perf_counter() - t
        if record:
            self.samples.append({"id": rid, "req": req, "got": got,
                                 "err": err, "lat": lat, "cycle": cycle,
                                 "traced": self.tracer.enabled, "pair": pair})
        return got, lat

    def _send(self, req, cycle=None) -> None:
        """A body request. Traced runs send it twice, traced and untraced
        in alternating order; the paired gap is the tracing overhead."""
        if not self.args.trace:
            self._request(req, cycle=cycle)
            return
        pair = self.n_pairs
        self.n_pairs += 1
        for on in ((True, False) if pair % 2 == 0 else (False, True)):
            self.tracer.enabled = on
            self._request(req, cycle=cycle, pair=pair)
        self.tracer.enabled = True

    # -- bodies --------------------------------------------------------

    def body(self, seconds: float) -> None:
        c0 = cpu_ticks()
        t0 = time.perf_counter()
        deadline = t0 + seconds
        if self.workload == "serve":
            self._serve(deadline)
        else:
            self._refresh(deadline)
        self.body_s = time.perf_counter() - t0
        self.steal = steal_fraction(c0, cpu_ticks())

    def _serve(self, deadline: float) -> None:
        # whole rotations only: a slow run sends fewer requests, never a
        # different mix of them
        i = WARM_ROTATIONS * len(gen.ROTATION)    # after the warm-up
        while time.perf_counter() < deadline or i % len(gen.ROTATION):
            self._send(self.inputs.requests[i % N_REQUESTS])
            i += 1

    def _refresh(self, deadline: float) -> None:
        ranked = iter(self.ranked)
        c = 0
        while (time.perf_counter() < deadline or c < MIN_CYCLES) and c < N_BATCHES:
            info = self._cycle(c, self.inputs.batches[c])
            self.cycles.append(info)
            if info["err"] is None:
                for _ in range(READS_PER_CYCLE):
                    self._send(next(ranked), cycle=c)
            c += 1

    def _cycle(self, c: int, batch) -> dict:
        sp, tm = self.spark, self.termindex
        new_lay = os.path.join(self.work, f"layout{c + 1}")
        info = {"cycle": c, "batch": batch, "err": None, "lag": None}
        t0 = time.perf_counter()
        try:
            with self.tracer.span("bench.cycle", spark_call=False):
                adds = sp.createDataFrame(list(batch.adds),
                                          "docid long, content string")
                with self.tracer.span("spimi.add_documents"):
                    self.spimi.add_documents(sp, adds, self.idx)
                with self.tracer.span("spimi.delete_documents"):
                    self.spimi.delete_documents(sp, list(batch.deletes), self.idx)
                if self.tracer.enabled:
                    with self.tracer.span("spimi.committed_segments",
                                          spark_call=False):
                        self.spimi.committed_segments(sp, self.idx)
                with self.tracer.span("termindex.refresh_term_layout"):
                    tm.refresh_term_layout(sp, self.idx, self.lay, new_lay)
                new_reader = self._open_layout(new_lay)
        except Exception:
            info["err"] = traceback.format_exc()
            print(f"perfbench: cycle {c} failed:\n{info['err']}",
                  file=sys.stderr)
            return info
        self.reader.close()
        shutil.rmtree(self.lay, ignore_errors=True)
        self.reader, self.lay = new_reader, new_lay
        self.source_bytes += sum(len(x.encode()) for _, x in batch.adds)
        probe = gen.Request(
            "ranked_layout", f"uniq_{batch.probe_hit} uniq_{batch.probe_miss}")
        got, _ = self._request(probe, cycle=c)
        info["lag"] = time.perf_counter() - t0
        info["probe"] = got
        info["refresh_bytes"] = dir_bytes(new_lay)
        return info

    # -- checks (untimed) ----------------------------------------------

    def check(self) -> tuple[int, int]:
        """(attempted, failed) over requests, refresh cycles and the
        set-up freshness probe."""
        from pyspark.sql import functions as F

        from gazetteer_spark import query
        from gazetteer_spark.analyzer import py_tokenize
        from gazetteer_spark.oracle import OracleIndex

        oracles: dict[int, tuple[OracleIndex, set[int]]] = {}

        def oracle_for(cycle):
            """Index state a request saw: base + adds of cycles ≤ cycle,
            deleted files tombstoned. Deletes keep corpus stats (N, avgdl)
            as built and drop the file from every posting list."""
            key = -1 if cycle is None else cycle
            if key not in oracles:
                added, deleted = list(self.inputs.base), set()
                for cyc in self.cycles[:key + 1]:
                    added += list(cyc["batch"].adds)
                    deleted |= set(cyc["batch"].deletes)
                o = OracleIndex(added)
                for plist in o.postings.values():
                    for d in deleted & plist.keys():
                        del plist[d]
                oracles[key] = (o, deleted)
            return oracles[key]

        all_docs = list(self.inputs.base)
        for cyc in self.cycles:
            all_docs += list(cyc["batch"].adds)
        # boolean and NEAR answers: query.match_scan over the same files,
        # restricted to files holding the request's terms (any scored term
        # of a boolean tree, every NEAR term). Phrase answers: a pure-Python
        # token-run match, since match_scan's phrase predicate costs tens
        # of ms per file here.
        content = dict(all_docs)
        truth: dict[int, set[int]] = {}
        parts = []
        docs = self.spark.read.parquet(self.src)
        if len(all_docs) > N_BASE:
            docs = docs.unionByName(self.spark.createDataFrame(
                all_docs[N_BASE:], "docid long, content string"))
        for s in self.samples:
            req = s["req"]
            if s["err"] is not None or req.cls == "ranked":
                continue
            postings = oracle_for(s["cycle"])[0].postings
            if req.kind == "boolean":
                cand = set().union(*(postings.get(t, {}) for t in req.score_terms))
            else:
                terms = list(req.terms) or req.text.split()
                cand = set.intersection(*(set(postings.get(t, {})) for t in terms))
            if req.kind == "phrase":
                truth[s["id"]] = {d for d in cand
                                  if _has_run(py_tokenize(content[d]), terms)}
                continue
            truth[s["id"]] = set()
            parts.append(query.match_scan(
                docs.filter(F.col("docid").isin(sorted(cand))),
                req.scan_query()).withColumn("rid", F.lit(s["id"])))
        if parts:
            for r in reduce(lambda a, b: a.unionByName(b), parts).collect():
                truth[int(r["rid"])].add(int(r["docid"]))

        failed = 0
        for s in self.samples:
            ok = s["err"] is None and self._check_one(s, oracle_for, truth)
            s["ok"] = ok
            if not ok:
                failed += 1
                print(f"perfbench: wrong answer {s['id']} {s['req']}: "
                      f"{s['got']}", file=sys.stderr)
        for cyc in self.cycles:
            b = cyc["batch"]
            got = cyc.get("probe")
            cyc["ok"] = (cyc["err"] is None and bool(got)
                         and got[0][1] == b.probe_hit
                         and b.probe_miss not in {d for _, d, _ in got})
            failed += not cyc["ok"]
        failed += not self.setup_probe_ok
        return len(self.samples) + len(self.cycles) + 1, failed

    def _check_one(self, s, oracle_for, truth) -> bool:
        req, got = s["req"], s["got"]
        oracle, deleted = oracle_for(s["cycle"])
        live = (truth.get(s["id"], set()) & oracle.doclen.keys()) - deleted
        if req.kind in ("ranked_layout", "ranked_wand"):
            want = oracle.topk(req.text, TOPK)
        elif req.kind == "boolean":
            terms = list(req.score_terms)
            ranked = sorted((-round(oracle.score_one(d, terms), 4), d)
                            for d in live)[:TOPK]
            want = [(i + 1, d, -ns) for i, (ns, d) in enumerate(ranked)]
        else:
            return got == sorted(live)
        return (len(got) == len(want)
                and all(g[:2] == w[:2] and abs(g[2] - w[2]) <= SCORE_TOL
                        for g, w in zip(got, want)))

    # -- metrics -------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        lats = [s["lat"] for s in self.samples]
        lags = [c["lag"] for c in self.cycles if c["lag"] is not None]
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        space = dir_bytes(self.idx) + dir_bytes(self.lay)
        return {
            "setup_s": (self.setup_s, "s"),
            "build_docs_per_s": (N_BASE / self.build_s, "files/s"),
            "index_bytes_per_source_byte": (space / self.source_bytes, "ratio"),
            "query_mean_ms": (1000 * statistics.fmean(lats), "ms"),
            "query_qps": (len(lats) / self.body_s, "1/s"),
            "fresh_lag_p50_s": (median(lags) if lags else self.setup_lag_s, "s"),
            "ops_ok_ratio": (1.0 - self.failed / self.attempted, "ratio"),
            "peak_rss_mb": (peak_rss_mb() + peak_rss_mb(jvm_pid), "MB"),
        }

    def diagnostics(self) -> dict:
        by_cls: dict[str, list[float]] = {}
        for s in self.samples:
            by_cls.setdefault(s["req"].cls, []).append(1000 * s["lat"])
        lats = [s["lat"] for s in self.samples]
        lat_tail = tail(lats)
        return {
            # per request class: (samples, median ms); too few samples per
            # run to hold a bound, so reported beside the metrics
            "class_p50_ms": {c: (len(v), round(median(v), 1))
                             for c, v in sorted(by_cls.items())},
            "query_p50_ms": round(1000 * median(lats), 1),
            # the highest percentile with ten samples beyond it, if any
            "query_tail_ms": (None if lat_tail is None else
                              {"p": lat_tail[0], "ms": 1000 * lat_tail[1]}),
            "workload": self.workload, "seed": self.args.seed,
            "steal_fraction": round(self.steal, 5),
            "body_s": round(self.body_s, 3),
            "requests": len(self.samples),
            "latencies_ms": [[s["req"].kind, round(1000 * s["lat"], 1)]
                             for s in self.samples],
            "cycle_lags_s": [c["lag"] and round(c["lag"], 3) for c in self.cycles],
            "cycles": len(self.cycles),
            "check_s": round(self.check_s, 3),
            "setup_parts_s": {k: round(v, 3) for k, v in self.setup_parts.items()},
            "sizes": {"base_files": N_BASE, "shards": N_SHARDS,
                      "buckets": N_BUCKETS, "batch_adds": BATCH_ADDS,
                      "batch_deletes": BATCH_DELETES,
                      "source_bytes": self.source_bytes,
                      "cpus": os.cpu_count()},
            "probed_layers": sorted(self.probed),
        }

    # -- lifecycle -----------------------------------------------------

    def run(self) -> int:
        _prepare_env(self.work)
        try:
            self.setup()
            self.body(self.args.seconds)
            if self.args.trace:
                probe_missing_layers(self)
            t = time.perf_counter()
            self.attempted, self.failed = self.check()
            self.check_s = time.perf_counter() - t
            if self.args.trace:
                metrics = per_layer(self)
                out = os.path.join(ROOT, ".perfbench_out")
                os.makedirs(out, exist_ok=True)
                self.tracer.write(os.path.join(
                    out, f"spans-{self.workload}-{self.args.seed}.jsonl"))
            else:
                metrics = self.end_to_end()
            _check_names(metrics, "per_layer" if self.args.trace
                         else "end_to_end")
            diag = self.diagnostics()
            correct = self.failed == 0
        finally:
            self.stop()
        print(json.dumps({"diagnostics": diag}, sort_keys=True))
        print(json.dumps({
            "correct": correct, "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
        return 0

    def stop(self) -> None:
        """Stop Spark, wait for the JVM to exit, remove the work dir."""
        spark = getattr(self, "spark", None)
        if spark is not None:
            from pyspark import SparkContext

            spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = gw.proc
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                    try:
                        proc.wait(timeout=60)
                    except Exception:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "refresh"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gazetteer_spark", "__init__.py")):
        print(f"perfbench: engine package gazetteer_spark not found under "
              f"{ROOT}", file=sys.stderr)
        return 2
    return Bench(args).run()


if __name__ == "__main__":
    sys.exit(main())
