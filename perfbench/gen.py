"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed yields
byte-identical inputs.  Each one also returns the expected outputs,
derived from what the synthesis put in (the template a packet was drawn
from, the duplicate a document was planted as), never from running the
program under test.

Frames are built with the public ``hadoop_pcap_spark.pcap.synth``
builders; seeded numpy decides which frame lands where and when.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

import numpy as np

from hadoop_pcap_spark.pcap import synth as S

# --- capture traffic -------------------------------------------------------

DNS_PREFIXES = ("www", "api", "cdn", "mail", "img", "static", "login", "m")
DNS_TLDS = ("com", "net", "org", "io", "de")
SERVICE_PORTS = (443, 80, 22, 25, 3306, 8080, 8443, 993)
KIND_SHARE = {"tcp": 0.55, "dns": 0.30, "icmp": 0.05, "v6": 0.10}
T0 = 19675 * 86400 - 1800  # half an hour before a UTC midnight
QNAME_TOPK = 20
# IPv6 extension-header chains: hop-by-hop, destination options, both,
# and an atomic fragment header (offset 0, no more fragments)
_OPT = bytes([0, 0, 1, 4, 0, 0, 0, 0])
V6_CHAINS = (((0, _OPT),), ((60, _OPT),), ((0, _OPT), (60, _OPT)), ((44, S.fragment_ext(0, 0, 7)),))


def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)])


def _require(cond: bool, msg: str) -> None:
    """The generator checks its own planted structure; a seed that breaks
    it must fail loudly, also under ``python -O``."""
    if not cond:
        raise RuntimeError(msg)


def _ip4(rng, net: str) -> str:
    a, b = rng.integers(1, 255, size=2)
    return f"{net}.{a}.{b}"


def packet_templates(seed: int) -> dict:
    """A pool of distinct frames with the intent of each: protocol,
    endpoints, frame size and (for DNS) the query name.  Packets are
    drawn from this pool, so every decoded row has a known truth."""
    rng = _rng(seed, "templates")
    frames, meta = [], []

    def add(kind, frame, proto, src, dst, sp, dp, qname=None):
        frames.append(frame)
        meta.append((kind, proto, src, dst, sp, dp, len(frame), qname))

    servers = [_ip4(rng, "172.16") for _ in range(40)]
    for _ in range(300):  # TCP conversations, both directions
        cli, srv = _ip4(rng, f"10.{rng.integers(0, 16)}"), servers[rng.integers(0, 40)]
        sp, dp = int(rng.integers(1024, 65536)), int(rng.choice(SERVICE_PORTS))
        for a, b, pa, pb in ((cli, srv, sp, dp), (srv, cli, dp, sp)):
            body = rng.bytes(int(rng.integers(0, 400)))
            add("tcp", S.ethernet(S.ipv4(S.tcp(body, pa, pb), 6, a, b)), "TCP", a, b, pa, pb)

    resolver = "10.255.0.53"
    words = ["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), size=rng.integers(4, 10))) for _ in range(240)]
    qnames = sorted({f"{DNS_PREFIXES[i % 8]}.{w}.{DNS_TLDS[i % 5]}." for i, w in enumerate(words)})
    for i, qn in enumerate(qnames):  # one query + its answer per name
        cli, sp, qid = _ip4(rng, "10.200"), int(rng.integers(1024, 65536)), int(rng.integers(0, 65536))
        q = S.dns_query(qid, qn.rstrip("."))
        add("dns", S.ethernet(S.ipv4(S.udp(q, sp, 53, cli, resolver), 17, cli, resolver)), "UDP", cli, resolver, sp, 53, qn)
        ans = [(qn.rstrip("."), 300, 1, S.a_rdata(_ip4(rng, "93.184"))) for _ in range(1 + i % 3)]
        r = S.dns_response(qid, qn.rstrip("."), answers=ans)
        add("dns", S.ethernet(S.ipv4(S.udp(r, 53, sp, resolver, cli), 17, resolver, cli)), "UDP", resolver, cli, 53, sp, qn)

    for _ in range(40):  # ICMP echo
        a, b = _ip4(rng, "10.7"), servers[rng.integers(0, 40)]
        icmp = bytes([8, 0, 0, 0]) + rng.bytes(4 + int(rng.integers(24, 56)))
        add("icmp", S.ethernet(S.ipv4(icmp, 1, a, b)), "ICMP", a, b, None, None)

    for i in range(120):  # IPv6 over extension-header chains
        a = f"2001:db8:{rng.integers(1, 0xFFFF):x}::{rng.integers(1, 0xFFFF):x}"
        b = f"2001:db8:ffff::{rng.integers(1, 0xFFFF):x}"
        sp, dp = int(rng.integers(1024, 65536)), int(rng.choice((443, 8443, 5001, 6000)))
        body = rng.bytes(int(rng.integers(0, 300)))
        if i % 2:
            l4, nh, proto = S.tcp(body, sp, dp), 6, "TCP"
        else:
            l4, nh, proto = S.udp(body, sp, dp, a, b), 17, "UDP"
        f = S.ethernet(S.ipv6(l4, nh, a, b, ext_headers=V6_CHAINS[i % 4]), ethertype=0x86DD)
        add("v6", f, proto, a, b, sp, dp)

    kinds = np.array([m[0] for m in meta])
    weight = np.zeros(len(meta))
    for kind, share in KIND_SHARE.items():
        idx = np.flatnonzero(kinds == kind)
        if kind == "dns":  # resolver-shaped: Zipf popularity over names
            rank = rng.permutation(len(idx) // 2) + 1
            w = np.repeat(1.0 / rank**1.1, 2)
        else:
            w = rng.uniform(0.2, 1.0, size=len(idx))
        weight[idx] = share * w / w.sum()
    return {"frames": frames, "meta": meta, "weight": weight}


def build_capture(tpl: dict, idx: np.ndarray, ts: np.ndarray, usec: np.ndarray) -> bytes:
    """Classic little-endian µs pcap of the drawn templates."""
    frames = tpl["frames"]
    caplen = np.array([len(frames[i]) for i in idx], dtype="<u4")
    hdr = np.stack([ts.astype("<u4"), usec.astype("<u4"), caplen, caplen], axis=1).tobytes()
    parts = [S.global_header(1)]
    for k, i in enumerate(idx.tolist()):
        parts.append(hdr[16 * k: 16 * k + 16])
        parts.append(frames[i])
    return b"".join(parts)


def _draw(rng, tpl: dict, n: int) -> np.ndarray:
    return rng.choice(len(tpl["frames"]), size=n, p=tpl["weight"])


def _tally(tpl: dict, idx: np.ndarray, files: np.ndarray, ts: np.ndarray, usec: np.ndarray) -> dict:
    """Expected query outputs for packets ``idx`` (template ids) in
    ``files`` (file names), from the template intent only."""
    meta = tpl["meta"]
    counts = Counter(zip(files.tolist(), idx.tolist()))
    proto, ports, qn = Counter(), Counter(), Counter()
    proto_bytes = Counter()
    for (_, t), c in counts.items():
        kind, p, src, dst, sp, dp, size, qname = meta[t]
        proto[p] += c
        proto_bytes[p] += c * size
        ports[sp] += c
        if qname:
            qn[qname] += c
    # flows: bidirectional canonical key, as operators.flow_stats defines it
    us = ts.astype(np.int64) * 1_000_000 + usec
    flows: dict = {}
    for f, t, u in zip(files.tolist(), idx.tolist(), us.tolist()):
        kind, p, src, dst, sp, dp, size, _ = meta[t]
        fwd = src < dst or (src == dst and (-1 if sp is None else sp) <= (-1 if dp is None else dp))
        key = (f, p) + (((src, sp), (dst, dp)) if fwd else ((dst, dp), (src, sp)))
        st = flows.get(key)
        if st is None:
            flows[key] = st = [0, 0, u, u, 0]
        st[0] += 1
        st[1] += size
        st[2], st[3] = min(st[2], u), max(st[3], u)
        st[4] += fwd
    flow_truth: dict = {}
    for (f, p, *_), (n, b, lo, hi, fwdn) in flows.items():
        agg = flow_truth.setdefault(p, [0, 0, 0, 0, 0, lo, hi])
        agg[0] += 1
        agg[1] += n
        agg[2] += b
        agg[3] += fwdn
        agg[4] += n - fwdn
        agg[5], agg[6] = min(agg[5], lo), max(agg[6], hi)
    dates = Counter((ts // 86400).tolist())
    topk = sorted(qn.items(), key=lambda kv: (-kv[1], kv[0]))[:QNAME_TOPK]
    return {
        "packets": int(len(idx)),
        "proto": {p: (proto[p], proto_bytes[p]) for p in proto},
        "src_port": dict(ports),
        "qname_topk": topk,
        "flows": {p: tuple(v) for p, v in flow_truth.items()},
        "dates": dict(dates),
    }


def pcap_scan_inputs(seed: int, n_packets: int = 100_000, n_files: int = 16) -> dict:
    """The analyst capture set: ``n_files`` files with skewed sizes, the
    largest holding over a quarter of the bytes.  Returns the file
    payloads (name -> bytes) and the expected query outputs."""
    tpl = packet_templates(seed)
    rng = _rng(seed, "pcap_scan")
    share = np.r_[0.3, 0.7 * 0.8 ** np.arange(n_files - 1) / (0.8 ** np.arange(n_files - 1)).sum()]
    sizes = np.maximum(1, np.floor(share * n_packets).astype(int))
    files, all_idx, all_ts, all_us, all_names = {}, [], [], [], []
    for f, n in enumerate(sizes):
        name = f"cap{f:02d}.pcap"
        idx = _draw(rng, tpl, int(n))
        # each file spans part of one hour straddling a UTC midnight
        ts = T0 + f * 60 + np.sort(rng.integers(0, 3600, size=int(n)))
        usec = rng.integers(0, 1_000_000, size=int(n))
        files[name] = build_capture(tpl, idx, ts, usec)
        all_idx.append(idx)
        all_ts.append(ts)
        all_us.append(usec)
        all_names.append(np.full(int(n), name, dtype=object))
    truth = _tally(tpl, np.concatenate(all_idx), np.concatenate(all_names),
                   np.concatenate(all_ts), np.concatenate(all_us))
    total = sum(len(b) for b in files.values())
    _require(len(files["cap00.pcap"]) * 4 >= total, "largest file must hold >= 1/4 of the bytes")
    return {"files": files, "truth": truth, "bytes": total}


STREAM_WINDOW_S = 60


def stream_batch(seed: int, batch: int, n_files: int = 4, per_file: int = 5000, tpl=None) -> dict:
    """One landed batch of rotated captures.  Batch ``b`` carries event
    times inside tumbling window ``b`` (``STREAM_WINDOW_S`` wide), so
    the watermark closes window ``b-1`` when batch ``b`` lands."""
    tpl = tpl or packet_templates(seed)
    rng = _rng(seed, f"stream-{batch}")
    start = T0 + batch * STREAM_WINDOW_S
    files, counts = {}, Counter()
    for f in range(n_files):
        idx = _draw(rng, tpl, per_file)
        ts = start + np.sort(rng.integers(0, STREAM_WINDOW_S - 1, size=per_file))
        ts[-1] = start + STREAM_WINDOW_S - 2  # the watermark reaches the same point every batch
        usec = rng.integers(0, 1_000_000, size=per_file)
        files[f"b{batch:05d}-{f}.pcap"] = build_capture(tpl, idx, ts, usec)
        for t in idx.tolist():
            counts[tpl["meta"][t][1]] += 1
    return {"files": files, "window_start": start, "proto_counts": dict(counts)}


# --- document corpus ---------------------------------------------------------

TOKEN_SPLIT = re.compile("[^a-z0-9]+")
STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")
SHINGLE_K = 3
MINHASH_THRESHOLD = 0.5
EMBED_DIM = 32
ANN_K = 5


def tokens(text: str) -> list:
    return [t for t in TOKEN_SPLIT.split(text.lower()) if t]


def shingles(toks: list, k: int = SHINGLE_K) -> set:
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def corpus_inputs(seed: int, n_docs: int = 2000, n_queries: int = 48) -> dict:
    """A document corpus with planted structure and its truth:

    * exact duplicates (case / whitespace variants of one text);
    * near-duplicate families: a base text plus token-substitution
      edits, every in-family pair at shingle Jaccard >= 0.8;
    * a repeated boilerplate phrase in a share of documents;
    * a seeded embedding per document, with ``ANN_K`` planted close
      neighbours around each query vector.
    """
    rng = _rng(seed, "corpus")
    vocab = np.array(["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), size=rng.integers(2, 11)))
                      for _ in range(6000)])
    boiler = " ".join(rng.choice(vocab, size=10))

    def fresh(n_tok):
        words = rng.choice(vocab, size=n_tok).tolist()
        for j in range(0, n_tok, 7):  # some stopword mass
            words[j] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
        return words

    texts, exact_of, family_of, boiler_docs = [], {}, {}, set()
    n_exact_groups, n_families = n_docs // 60, n_docs // 40
    while len(texts) < n_docs:
        i = len(texts)
        r = rng.random()
        if r < 0.03 and len(texts) > 10:  # exact duplicate of an earlier doc
            src = int(rng.integers(0, i))
            if src in family_of or src in boiler_docs or len(exact_of) >= n_exact_groups * 3:
                continue
            root = exact_of.get(src, src)
            variant = texts[root]
            variant = variant.upper() if rng.random() < 0.5 else variant.replace(" ", "  ")
            texts.append(variant)
            exact_of[i] = root
            exact_of.setdefault(root, root)
        elif r < 0.13 and len(family_of) < n_families * 4:  # near-dup family
            base = fresh(int(rng.integers(70, 100)))
            members = int(rng.integers(2, 5))
            for m in range(min(members, n_docs - len(texts))):
                words = list(base)
                if m:  # one token substitution per member
                    words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab)) + "x"
                family_of[len(texts)] = i
                texts.append(" ".join(words))
        else:
            words = fresh(int(rng.integers(10, 110)))
            if rng.random() < 0.25:  # boilerplate, sometimes repeated
                boiler_docs.add(i)
                for _ in range(int(rng.integers(1, 4))):
                    p = int(rng.integers(0, len(words) + 1))
                    words[p:p] = boiler.split()
            texts.append(" ".join(words))

    toks = [tokens(t) for t in texts]
    sh = [shingles(t) for t in toks]
    # exact-dedup keeps the min doc_id of each normalized text
    norm = [" ".join(t.lower().split()) for t in texts]
    first = {}
    for i, n in enumerate(norm):
        first.setdefault(n, i)
    kept = sorted(first.values())
    # near-dup truth: every planted pair (family members, exact copies)
    groups = defaultdict(list)
    for i, root in family_of.items():
        groups[("f", root)].append(i)
    for i, root in exact_of.items():
        groups[("e", root)].append(i)
    pairs = {}
    for members in groups.values():
        for x in members:
            for y in members:
                if x < y:
                    j = jaccard(sh[x], sh[y])
                    _require(j >= 0.8, f"planted pair ({x}, {y}) has Jaccard {j:.3f}")
                    pairs[(x, y)] = round(j, 6)

    emb = rng.standard_normal((n_docs, EMBED_DIM))
    q_ids = rng.choice(n_docs, size=n_queries, replace=False)
    free = np.ones(n_docs, dtype=bool)
    free[q_ids] = False
    neighbours = {}
    for q in q_ids.tolist():
        nb = rng.choice(np.flatnonzero(free), size=ANN_K, replace=False)
        free[nb] = False
        emb[nb] = emb[q] + 0.02 * rng.standard_normal((ANN_K, EMBED_DIM))
        neighbours[q] = set(nb.tolist())
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    sims = unit[q_ids] @ unit.T
    sims[np.arange(n_queries), q_ids] = -np.inf  # the index never returns the query itself
    brute = np.argsort(-sims, axis=1)[:, :ANN_K]
    for q, row in zip(q_ids.tolist(), brute):
        _require(set(row.tolist()) == neighbours[q], "planted neighbours must be the brute-force top-k")

    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "embedding": emb,
        "query_ids": np.sort(q_ids),
        "truth": {
            "kept": kept,
            "pairs": pairs,
            "repetition": [repetition_truth(t) for t in toks],
            "quality": [quality_truth(t, txt) for t, txt in zip(toks, texts)],
            "neighbours": neighbours,
        },
    }


def repetition_truth(toks: list, top_ns=(2, 3, 4), dup_n: int = 6) -> tuple:
    """(top2, top3, top4, dup6) character fractions, as
    operators.repetition defines them."""
    total = len(" ".join(toks))
    out = []
    for n in top_ns:
        c = Counter(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))
        out.append(max((k * len(g) for g, k in c.items()), default=0) / total)
    c = Counter(" ".join(toks[i:i + dup_n]) for i in range(len(toks) - dup_n + 1))
    out.append(sum((k - 1) * len(g) for g, k in c.items() if k >= 2) / total)
    return tuple(out)


def quality_truth(toks: list, text: str) -> tuple:
    """(quality_score, gopher_keep) as functions.text defines them."""
    n = len(toks)
    atl = round(sum(map(len, toks)) / n, 4) if n else None
    swr = round(sum(t in STOPWORDS for t in toks) / n, 6) if n else None
    punct = sum(text.count(c) for c in ".,;:!?") / len(text) if text else None
    length_term = min(n / 50.0, 1.0)
    token_term = 1.0 if atl is not None and 3 <= atl <= 10 else 0.5
    sw_term = 1.0 if swr is not None and swr >= 0.05 else 0.6
    punct_term = 1.0 if punct is not None and punct <= 0.1 else 0.5
    score = 0.4 * length_term + 0.2 * token_term + 0.2 * sw_term + 0.2 * punct_term
    keep = 25 <= n <= 80 and atl is not None and 3.0 <= atl <= 10.0 and swr >= 0.03
    return score, keep
