"""The three closed-loop workloads.  One client thread drives the
program through its public API; every op's output is checked against
the generator's truth and a mismatch raises :class:`Mismatch`.

A workload has ``synthesize`` (inputs + truth, not counted in set-up),
``setup`` (counted), ``op(i)`` (one round of the fixed mix, or one
landed batch), ``probes()`` (per-layer measurements for the traced run)
and ``close``.  Spans name the module the call goes into: ``pcap``,
``sources``, ``operators``, ``functions``, ``streaming``; ``bench`` is
the benchmark's own verification reads.
"""

from __future__ import annotations

import json
import math
import os
import re
import time

import numpy as np

import gen
from measure import median

# RFC extension-header walk: the generator's IPv6 chains are RFC-formed
READ_OPTS = {"strict_reference": False}
# Approximate operators must find at least this share of what was planted
MINHASH_MIN_RECALL = 0.9
ANN_MIN_RECALL = 0.95


class Mismatch(AssertionError):
    """An op's output differs from the truth the generator planted."""


def expect(what: str, got, want) -> None:
    if got == want:
        return
    if isinstance(got, dict) and isinstance(want, dict):
        keys = sorted(set(got) | set(want), key=repr)
        got = {k: got.get(k) for k in keys if got.get(k) != want.get(k)}
        want = {k: want.get(k) for k in got}
    elif isinstance(got, (list, set)) and isinstance(want, (list, set)) and set(got) != set(want):
        got, want = sorted(set(got) - set(want), key=repr), sorted(set(want) - set(got), key=repr)
    raise Mismatch(f"{what}: got {_short(got)}, want {_short(want)}")


def expect_close(what: str, got: float, want: float, tol: float) -> None:
    if got is None or not math.isfinite(got) or abs(got - want) > tol:
        raise Mismatch(f"{what}: got {got}, want {want} (tolerance {tol})")


def expect_at_least(what: str, got: float, floor: float) -> None:
    if not got >= floor:
        raise Mismatch(f"{what}: {got:.4f} is below {floor}")


def _recall(got: dict, want: dict) -> float:
    return sum(len(got.get(q, set()) & nb) for q, nb in want.items()) / sum(map(len, want.values()))


def _short(x) -> str:
    s = repr(x)
    return s if len(s) < 300 else s[:300] + "..."


def _exchanges(df) -> int:
    """Exchange nodes (shuffle and broadcast, not reused) in the plan Spark executes."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"(?<![A-Za-z])(?:Exchange|BroadcastExchange)\s", plan))


def _tasks_of_group(spark, group: str) -> int:
    st = spark.sparkContext.statusTracker()
    tasks = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job else ():
            info = st.getStageInfo(sid)
            tasks += info.numTasks if info else 0
    return tasks


def _timed(fn, reps: int) -> float:
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return median(out)


class _Capture:
    """Shared by the two capture workloads: the pcap and sources probes."""

    def _decode_probe(self, blobs: dict) -> dict:
        from hadoop_pcap_spark.pcap.decode import DecodeOptions
        from hadoop_pcap_spark.pcap.decode_np import decode_pcap_columnar

        out = {}
        for decoder in ("ip", "dns"):
            opts = DecodeOptions(decoder=decoder, **READ_OPTS)
            rates = []
            for _ in range(3):
                n = 0
                t = time.perf_counter()
                for name, data in blobs.items():
                    with self.tr.span("pcap.decode_pcap_columnar"):
                        n += decode_pcap_columnar(data, name, opts).n
                rates.append(n / (time.perf_counter() - t))
            out[f"pcap.decode_{decoder}_pkts_per_s"] = median(rates)
        return out

    def _index_probe(self, path: str) -> dict:
        from hadoop_pcap_spark.pcap.chunked import index_capture_splits

        def run():
            with self.tr.span("pcap.index_capture_splits"):
                splits = index_capture_splits(path, 1 << 18)
            expect("index splits", splits is not None and len(splits) > 1, True)

        return {"pcap.index_mb_per_s": os.path.getsize(path) / 1e6 / _timed(run, 3)}

    def _sources_probe(self, path: str, packets: int) -> dict:
        from hadoop_pcap_spark.sources import read_pcap

        spark, sp = self.spark, self.tr.span
        out = {}

        def plan():
            with sp("sources.read_pcap"):
                read_pcap(spark, path, **READ_OPTS)

        out["sources.plan_s"] = _timed(plan, 5)
        for key, cols in (("sources.scan_full_s", None), ("sources.scan_pruned_s", ["src_port"])):
            def scan():
                df = read_pcap(spark, path, columns=cols, **READ_OPTS)
                with sp("sources.scan.noop"):
                    df.write.format("noop").mode("overwrite").save()
            out[key] = _timed(scan, 3)
        group = f"perfbench-scan-{time.monotonic_ns()}"
        spark.sparkContext.setJobGroup(group, "tasks per scan")
        read_pcap(spark, path, **READ_OPTS).write.format("noop").mode("overwrite").save()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        out["sources.tasks_per_scan"] = _tasks_of_group(spark, group)
        with sp("sources.read_pcap"):
            n = read_pcap(spark, path, columns=["ts"], **READ_OPTS).count()
        expect("probe scan rows", n, packets)
        return out


class PcapScan(_Capture):
    """The analyst batch mix over a skewed capture set (one round = 5 queries)."""

    name = "pcap_scan"
    warmup_ops = 1

    def __init__(self, work: str, seed: int, tracer, n_packets: int):
        self.spark, self.work, self.seed, self.tr = None, work, seed, tracer
        self.n_packets = n_packets
        self.caps = os.path.join(work, "captures")
        self.etl = os.path.join(work, "etl")

    def synthesize(self) -> None:
        inp = gen.pcap_scan_inputs(self.seed, n_packets=self.n_packets)
        os.makedirs(self.caps)
        for name, data in inp["files"].items():
            with open(os.path.join(self.caps, name), "wb") as f:
                f.write(data)
        self.blobs = inp["files"]
        self.truth = inp["truth"]
        self.items_per_op = self.truth["packets"]

    def setup(self) -> None:
        pass

    def prepare(self, i: int) -> None:
        pass

    def op(self, i: int) -> dict:
        from pyspark.sql import functions as F

        from hadoop_pcap_spark.operators import flow_stats
        from hadoop_pcap_spark.sources import read_pcap, write_packets_parquet

        spark, sp, got = self.spark, self.tr.span, {}
        with sp("sources.read_pcap"):
            df = read_pcap(spark, self.caps, **READ_OPTS)
        with sp("sources.protocol_agg.run"):
            got["proto"] = df.groupBy("protocol").agg(F.count("*"), F.sum("size")).collect()
        with sp("sources.read_pcap"):
            df = read_pcap(spark, self.caps, columns=["src_port"], **READ_OPTS)
        with sp("sources.port_count.run"):
            got["ports"] = df.groupBy("src_port").count().collect()
        with sp("sources.read_pcap"):
            df = read_pcap(spark, self.caps, decoder="dns", columns=["dns_qname"], **READ_OPTS)
        with sp("sources.qname_topk.run"):
            got["topk"] = (df.filter(F.col("dns_qname").isNotNull()).groupBy("dns_qname").count()
                           .orderBy(F.desc("count"), "dns_qname").limit(gen.QNAME_TOPK).collect())
        with sp("sources.read_pcap"):
            df = read_pcap(spark, self.caps, **READ_OPTS)
        with sp("operators.flow_stats.build"):
            flows = flow_stats(df)
        with sp("operators.flow_stats.run"):
            got["flows"] = flows.groupBy("proto").agg(
                F.count("*"), F.sum("n_packets"), F.sum("n_bytes"), F.sum("a_to_b_packets"),
                F.sum("b_to_a_packets"), F.min("first_ts"), F.max("last_ts")).collect()
        with sp("sources.read_pcap"):
            df = read_pcap(spark, self.caps, **READ_OPTS)
        with sp("sources.write_packets_parquet"):
            write_packets_parquet(df, self.etl)
        return got

    def verify(self, i: int, got: dict) -> None:
        t = self.truth
        expect("protocol aggregate", {r[0]: (r[1], r[2]) for r in got["proto"]}, t["proto"])
        expect("src_port counts", {r[0]: r[1] for r in got["ports"]}, t["src_port"])
        expect("qname top-k", [(r[0], r[1]) for r in got["topk"]], t["qname_topk"])
        rows = got["flows"]
        expect("flow_stats", {r[0]: tuple(r[1:6]) for r in rows}, {p: v[:5] for p, v in t["flows"].items()})
        for r in rows:
            expect_close(f"flow_stats {r[0]} first_ts", r[6], t["flows"][r[0]][5] / 1e6, 1e-6)
            expect_close(f"flow_stats {r[0]} last_ts", r[7], t["flows"][r[0]][6] / 1e6, 1e-6)
        with self.tr.span("bench.verify_etl"):
            rows = self.spark.read.parquet(self.etl).groupBy("capture_date").count().collect()
        epoch = 719163  # date(1970, 1, 1).toordinal(): the truth counts days since the epoch
        expect("ETL rows per capture_date", {r[0].toordinal() - epoch: r[1] for r in rows}, t["dates"])

    def probes(self) -> dict:
        from hadoop_pcap_spark.operators import flow_stats
        from hadoop_pcap_spark.sources import read_pcap

        out = self._decode_probe(self.blobs)
        out.update(self._index_probe(os.path.join(self.caps, "cap00.pcap")))
        out.update(self._sources_probe(self.caps, self.truth["packets"]))
        out["operators.flow_stats.exchanges"] = _exchanges(
            flow_stats(read_pcap(self.spark, self.caps, **READ_OPTS)))
        return out

    def close(self) -> None:
        pass


class PcapStreamIngest(_Capture):
    """Rotated captures land by atomic rename into a watched directory;
    a watermarked tumbling-window count per protocol runs over them.
    One op = one landed batch; its latency runs from the rename to the
    return of ``processAllAvailable``."""

    name = "pcap_stream_ingest"
    warmup_ops = 5  # the first micro-batches still compile and start workers

    def __init__(self, work: str, seed: int, tracer, n_files: int, per_file: int):
        self.spark, self.work, self.seed, self.tr = None, work, seed, tracer
        self.n_files, self.per_file = n_files, per_file
        self.items_per_op = n_files * per_file
        self.landing = os.path.join(work, "landing")
        self.staging = os.path.join(work, "staging")
        self.batches: dict = {}
        self.windows: dict = {}  # window start -> expected counts, in landing order
        self.progress: list = []
        self.query = None

    def synthesize(self) -> None:
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        self.tpl = gen.packet_templates(self.seed)
        self._stage(0)

    def _stage(self, b: int) -> None:
        """Write batch ``b`` to the staging directory (not yet visible)."""
        batch = gen.stream_batch(self.seed, b, self.n_files, self.per_file, self.tpl)
        for name, data in batch["files"].items():
            with open(os.path.join(self.staging, name), "wb") as f:
                f.write(data)
        self.batches[b] = batch

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from hadoop_pcap_spark.sources import read_pcap_stream
        from hadoop_pcap_spark.streaming.stream import tumbling_counts

        sp = self.tr.span
        with sp("sources.read_pcap_stream"):
            packets = read_pcap_stream(self.spark, self.landing, columns=["ts", "protocol"], **READ_OPTS)
        with sp("streaming.tumbling_counts"):
            counts = tumbling_counts(
                packets.withColumn("event_time", F.timestamp_seconds("ts")),
                ts_col="event_time", key_col="protocol",
                window=f"{gen.STREAM_WINDOW_S} seconds", watermark="1 second")
        self.sink = f"perfbench_windows_{os.getpid()}"
        self.query = (counts.writeStream.format("memory").queryName(self.sink).outputMode("append")
                      .option("checkpointLocation", os.path.join(self.work, "checkpoint")).start())

    def prepare(self, i: int) -> None:
        if i not in self.batches:
            self._stage(i)

    def op(self, i: int) -> None:
        """Land batch ``i`` by rename and wait until it is processed."""
        for name in self.batches[i]["files"]:
            os.rename(os.path.join(self.staging, name), os.path.join(self.landing, name))
        with self.tr.span("streaming.processAllAvailable"):
            self.query.processAllAvailable()

    def verify(self, i: int, _) -> None:
        self._record_progress(i)
        batch = self.batches.pop(i)
        self.windows[batch["window_start"]] = batch["proto_counts"]
        with self.tr.span("bench.verify_windows"):
            rows = self.spark.sql(f"SELECT win_start, protocol, n FROM {self.sink}").collect()
        emitted: dict = {}
        for r in rows:
            emitted.setdefault(int(r[0].timestamp()), {})[r[1]] = r[2]
        # every window but the newest one is closed by the watermark
        expect("closed windows", emitted, dict(list(self.windows.items())[:-1]))

    def _record_progress(self, i: int) -> None:
        seen = {p["batchId"] for p in self.progress}
        for p in self.query.recentProgress:
            if p["batchId"] not in seen:
                self.progress.append(dict(json.loads(p.json), op=i))

    def stream_metrics(self, ops: set) -> dict:
        per_op: dict = {}
        for p in self.progress:
            if p["op"] in ops:
                per_op.setdefault(p["op"], []).append(p)
        if not per_op:
            return {}
        out = {}
        for key, field in (("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit"),
                           ("commit_offsets_ms", "commitOffsets"), ("latest_offset_ms", "latestOffset")):
            out[f"streaming.{key}"] = median(
                [sum(p["durationMs"].get(field, 0) for p in ps) for ps in per_op.values()])
        out["streaming.state_commit_ms"] = median(
            [sum(s.get("commitTimeMs", 0) for p in ps for s in p.get("stateOperators", []))
             for ps in per_op.values()])
        out["streaming.data_batches_over_batches"] = median(
            [sum(p["numInputRows"] > 0 for p in ps) / len(ps) for ps in per_op.values()])
        return out

    def probes(self) -> dict:
        blobs = gen.stream_batch(self.seed, len(self.windows), self.n_files, self.per_file, self.tpl)["files"]
        probe_dir = os.path.join(self.work, "probe")
        os.makedirs(probe_dir)
        for name, data in blobs.items():
            with open(os.path.join(probe_dir, name), "wb") as f:
                f.write(data)
        out = self._decode_probe(blobs)
        out.update(self._index_probe(os.path.join(probe_dir, next(iter(blobs)))))
        out.update(self._sources_probe(probe_dir, self.items_per_op))
        return out

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()


class CorpusDedup:
    """The LLM-data-pipeline mix over a planted corpus: exact dedup,
    MinHash-LSH near-dup pairs, repetition signals, quality scoring and
    an indexed ANN top-k (the index is built once, in set-up)."""

    name = "corpus_dedup"
    warmup_ops = 2  # the second round still runs ~20% faster than the first

    def __init__(self, work: str, seed: int, tracer, n_docs: int):
        self.spark, self.work, self.seed, self.tr = None, work, seed, tracer
        self.n_docs = n_docs
        self.items_per_op = n_docs

    def synthesize(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        inp = gen.corpus_inputs(self.seed, n_docs=self.n_docs)
        self.truth = inp["truth"]
        self.docs_path = os.path.join(self.work, "docs.parquet")
        self.vecs_path = os.path.join(self.work, "vectors.parquet")
        pq.write_table(pa.table({"doc_id": inp["doc_id"], "text": inp["text"]}), self.docs_path)
        emb = pa.array(inp["embedding"].tolist(), type=pa.list_(pa.float64()))
        pq.write_table(pa.table({"vec_id": inp["doc_id"], "embedding": emb}), self.vecs_path)
        self.query_ids = inp["query_ids"].tolist()
        emb = inp["embedding"]
        self.unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from hadoop_pcap_spark.operators import read_ann_index, write_ann_index

        self.docs = self.spark.read.parquet(self.docs_path)
        self.corpus = self.spark.read.parquet(self.vecs_path)
        self.queries = self.corpus.filter(F.col("vec_id").isin(self.query_ids))
        table = f"perfbench_ann_{os.getpid()}"
        with self.tr.span("operators.write_ann_index"):
            write_ann_index(self.corpus, table)
        with self.tr.span("operators.read_ann_index"):
            self.index = read_ann_index(self.spark, table)
        self.recall: dict = {"ann": [], "minhash": []}

    def _builders(self) -> dict:
        from pyspark.sql import functions as F

        from hadoop_pcap_spark.functions.text import exact_fingerprint, gopher_keep, quality_score
        from hadoop_pcap_spark.operators import cosine_topk_indexed
        from hadoop_pcap_spark.operators.dedup import dedup_exact, minhash_lsh_pairs
        from hadoop_pcap_spark.operators.repetition import repetition_signals

        text = F.col("text")
        return {
            "operators.dedup_exact": lambda: dedup_exact(self.docs, exact_fingerprint(text)).select("doc_id"),
            "operators.minhash_lsh_pairs": lambda: minhash_lsh_pairs(
                self.docs, threshold=gen.MINHASH_THRESHOLD, n_hashes=8, n_bands=8),
            "operators.repetition_signals": lambda: repetition_signals(self.docs),
            "functions.text_quality": lambda: self.docs.select(
                "doc_id", quality_score(text).alias("q"), gopher_keep(text).alias("keep")),
            "operators.cosine_topk_indexed": lambda: cosine_topk_indexed(
                self.index, self.queries, self.corpus, k=gen.ANN_K),
        }

    def prepare(self, i: int) -> None:
        pass

    def op(self, i: int) -> dict:
        from hadoop_pcap_spark.operators import release_persisted

        results = {}
        for name, build in self._builders().items():
            with self.tr.span(name + ".build"):
                df = build()
            with self.tr.span(name + ".run"):
                results[name] = df.toArrow().to_pydict()
            release_persisted(df)  # minhash_lsh_pairs caches its hashed shingles
        return results

    def verify(self, i: int, results: dict) -> None:
        t = self.truth
        r = results["operators.cosine_topk_indexed"]
        got_nb: dict = {}
        for q, n, cos in zip(r["q_id"], r["n_id"], r["cos"]):
            got_nb.setdefault(q, set()).add(n)
            want_cos = float(self.unit[q] @ self.unit[n])
            expect_close(f"ANN cosine ({q}, {n})", cos, want_cos, 2e-6)
        expect("ANN result sizes", {q: len(v) for q, v in got_nb.items()},
               {q: gen.ANN_K for q in t["neighbours"]})
        self.recall["ann"].append(_recall(got_nb, t["neighbours"]))
        expect_at_least("ANN recall@k of planted neighbours", self.recall["ann"][-1], ANN_MIN_RECALL)
        expect("dedup_exact kept ids", sorted(results["operators.dedup_exact"]["doc_id"]), t["kept"])

        # LSH finds a pair only with some probability, so every reported
        # pair must be a planted one at its exact Jaccard, and enough of
        # the planted pairs must be found
        r = results["operators.minhash_lsh_pairs"]
        got = dict(zip(zip(r["a"], r["b"]), r["jaccard"]))
        expect("minhash pairs not planted", set(got) - set(t["pairs"]), set())
        for pair, j in got.items():
            expect_close(f"jaccard {pair}", j, t["pairs"][pair], 2e-6)
        self.recall["minhash"].append(len(got) / len(t["pairs"]))
        expect_at_least("minhash recall of planted pairs", self.recall["minhash"][-1], MINHASH_MIN_RECALL)

        r = results["operators.repetition_signals"]
        cols = ("top2_gram_char_frac", "top3_gram_char_frac", "top4_gram_char_frac", "dup6_gram_char_frac")
        expect("repetition rows", sorted(r["doc_id"]), list(range(self.n_docs)))
        for k, d in enumerate(r["doc_id"]):
            for c, want in zip(cols, t["repetition"][d]):
                expect_close(f"{c} doc {d}", r[c][k], want, 1.5e-6)

        r = results["functions.text_quality"]
        expect("quality rows", sorted(r["doc_id"]), list(range(self.n_docs)))
        for k, d in enumerate(r["doc_id"]):
            score, keep = t["quality"][d]
            expect_close(f"quality_score doc {d}", r["q"][k], score, 1.5e-6)
            expect(f"gopher_keep doc {d}", r["keep"][k], keep)

    def probes(self) -> dict:
        from hadoop_pcap_spark.operators import release_persisted
        from hadoop_pcap_spark.operators.dedup import (
            candidate_pairs, doc_shingle_arrays, lsh_bands, minhash_signatures_from_arrays)

        out = {}
        for name, build in self._builders().items():
            if name.startswith("operators."):
                df = build()
                out[f"{name}.exchanges"] = _exchanges(df)
                release_persisted(df)
        sigs = minhash_signatures_from_arrays(doc_shingle_arrays(self.docs, gen.SHINGLE_K), 8)
        with self.tr.span("operators.candidate_pairs.run"):
            n_cand = candidate_pairs(lsh_bands(sigs, 8, 8)).count()
        found = self.recall["minhash"][-1] * len(self.truth["pairs"])
        out["operators.minhash.verified_over_candidates"] = found / max(n_cand, 1)
        out["operators.minhash.recall"] = median(self.recall["minhash"])
        out["operators.ann.recall_at_k"] = median(self.recall["ann"])
        return out

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (PcapScan, PcapStreamIngest, CorpusDedup)}
