"""The benchmark's own tests.  Run from the repository root:

    python3 -m pytest perfbench/tests -q

The last test starts Spark (about a minute); the rest need no session.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import types

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else repr(p).encode())
    return h.hexdigest()


def _scan_digest(seed):
    inp = gen.pcap_scan_inputs(seed, n_packets=4000)
    return _digest(*[k.encode() + v for k, v in sorted(inp["files"].items())], inp["truth"])


def _stream_digest(seed):
    b = gen.stream_batch(seed, 3, n_files=2, per_file=500)
    return _digest(*[k.encode() + v for k, v in sorted(b["files"].items())], b["proto_counts"])


def _corpus_digest(seed):
    c = gen.corpus_inputs(seed, n_docs=400, n_queries=8)
    return _digest("\n".join(c["text"]).encode(), c["embedding"].tobytes(), c["query_ids"].tobytes(),
                   sorted(c["truth"]["pairs"].items()), c["truth"]["kept"])


@pytest.mark.parametrize("digest", [_scan_digest, _stream_digest, _corpus_digest])
def test_generators_are_deterministic_per_seed(digest):
    assert digest(7) == digest(7)
    assert digest(7) != digest(8)


def test_capture_truth_matches_the_drawn_packets():
    inp = gen.pcap_scan_inputs(3, n_packets=4000)
    t = inp["truth"]
    assert sum(n for n, _ in t["proto"].values()) == t["packets"] == sum(t["dates"].values())
    assert sum(t["src_port"].values()) == t["packets"]
    assert len(inp["files"]["cap00.pcap"]) * 4 >= inp["bytes"]
    # the flow truth partitions the packets
    assert sum(v[1] for v in t["flows"].values()) == t["packets"]


def test_planted_corpus_structure():
    c = gen.corpus_inputs(5, n_docs=600, n_queries=8)
    t = c["truth"]
    assert t["pairs"] and all(j >= 0.8 for j in t["pairs"].values())
    assert len(t["kept"]) < 600  # some exact duplicates were planted
    assert all(len(nb) == gen.ANN_K for nb in t["neighbours"].values())


def test_tail_percentile_leaves_ten_samples_beyond():
    xs = list(range(1, 101))
    value, pct, beyond = measure.tail(xs)
    assert (pct, beyond) == (90, 10) and value == 90
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, 100, 0)


def test_span_self_time_excludes_children():
    tr = measure.Tracer(True)
    tr.op_id = 1
    with tr.span("operators.x.run"):
        with tr.span("pcap.decode"):
            pass
    tr.spans[0]["start"], tr.spans[0]["end"] = 0.0, 10.0
    tr.spans[1]["start"], tr.spans[1]["end"] = 2.0, 5.0
    assert tr.self_times() == [7.0, 3.0]
    assert tr.spans[1]["parent"] == 0
    off = measure.Tracer(False)
    with off.span("pcap.decode"):
        pass
    assert off.spans == []


def _scan_result(truth):
    """A correct op output for PcapScan.verify, rebuilt from the truth."""
    return {
        "proto": [(p, n, b) for p, (n, b) in truth["proto"].items()],
        "ports": list(truth["src_port"].items()),
        "topk": list(truth["qname_topk"]),
        "flows": [(p, *v[:5], v[5] / 1e6, v[6] / 1e6) for p, v in truth["flows"].items()],
    }


def _scan_workload():
    wl = workloads.PcapScan("unused", 2, measure.Tracer(False), n_packets=3000)
    wl.truth = gen.pcap_scan_inputs(2, n_packets=3000)["truth"]

    class Frame:  # stands in for the ETL read-back, which needs Spark
        def __init__(self, rows):
            self.rows = rows

        def __getattr__(self, _):
            return lambda *a, **k: self

        def collect(self):
            return self.rows

    import datetime

    rows = [(datetime.date.fromordinal(d + 719163), n) for d, n in wl.truth["dates"].items()]
    wl.spark = types.SimpleNamespace(read=types.SimpleNamespace(parquet=lambda p: Frame(rows)))
    return wl


def test_injected_wrong_result_counts_as_failed_op():
    wl = _scan_workload()
    good = _scan_result(wl.truth)
    wl.verify(1, good)  # the true output passes
    bad = dict(good, topk=[(q, n + 1) for q, n in good["topk"]])
    with pytest.raises(workloads.Mismatch):
        wl.verify(1, bad)

    class Loop:
        items_per_op = 10

        def __init__(self):
            self.outputs = iter([good, bad, good])

        def prepare(self, i):
            pass

        def op(self, i):
            return next(self.outputs)

        def verify(self, i, out):
            wl.verify(i, out)

    monitor = types.SimpleNamespace(cpu=lambda: 0.0)
    loop = run.run_ops(Loop(), 1, 0.0, monitor, measure.Tracer(False), trace=False)
    assert [o["ok"] for o in loop["ops"]] == [True]
    loop["ops"] += run.run_ops(Loop(), 1, 0.0, monitor, measure.Tracer(False), trace=True)["ops"]
    assert [o["ok"] for o in loop["ops"]] == [True, True, False]
    result = run.summarize({"ok_op_ratio": 2 / 3}, {"ok_op_ratio": "ratio"}, loop["ops"], [True])
    assert (result["correct"], result["attempted"], result["failed"]) == (False, 4, 1)


def test_benchmark_json_names_what_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.SIZES)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "corpus_dedup", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, timeout=120)
    assert p.returncode != 0 and p.stdout.strip() == b""


@pytest.mark.parametrize("trace", [0, 1])
def test_output_carries_every_metric_with_its_unit(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "pcap_stream_ingest", "--seed", "4",
                        "--seconds", "1", "--trace", str(trace)], cwd=ROOT, capture_output=True, timeout=300)
    assert p.returncode == 0, p.stderr.decode()[-2000:]
    result = json.loads(p.stdout.decode().strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) and np.isfinite(v["value"]) for v in result["metrics"].values())
