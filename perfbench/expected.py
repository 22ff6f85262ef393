"""Expected results computed without the library under test.

Everything here is plain Python and numpy over the generated inputs; the
module never imports ``pipit_spark``. Trace expectations come from a
stack match over the raw event rows; corpus expectations from exact
shingle sets, an inverted index and brute-force cosine neighbours.

Run ``python3 perfbench/expected.py`` for the self-test: it rebuilds the
reference ``foo-bar`` trace (2 processes, 20 events) and checks process 0
``foo()`` at inclusive 24 s and exclusive 12 s.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np

# --------------------------------------------------------------- traces


def match_calls(rows):
    """Stack-match Enter/Leave rows per (process, thread) in (ts, seq)
    order. ``rows`` are (process, thread, ts, seq, type, name, attrs).

    Returns ``(calls, unmatched, instants)``: ``calls`` as (process, name,
    enter_ts, leave_ts, inc, exc, depth, path); ``unmatched`` the number
    of Enter/Leave rows with no partner; ``instants`` as (row,
    enter_ts of the enclosing call or None)."""
    by_loc = defaultdict(list)
    for r in rows:
        by_loc[(r[0], r[1])].append(r)
    calls, instants, unmatched = [], [], 0
    for (proc, _thr), loc in sorted(by_loc.items(), key=lambda kv: str(kv[0])):
        loc.sort(key=lambda r: (r[2], r[3]))
        stack = []  # [name, enter_ts, child_inc_sum]
        for r in loc:
            kind, name, ts = r[4], r[5], r[2]
            if kind == "Enter":
                stack.append([name, ts, 0])
            elif kind == "Leave":
                if not stack or stack[-1][0] != name:
                    unmatched += 1
                    continue
                nm, t0, child = stack.pop()
                inc = ts - t0
                path = tuple(s[0] for s in stack) + (nm,)
                calls.append((proc, nm, t0, ts, inc, inc - child, len(stack),
                              path))
                if stack:
                    stack[-1][2] += inc
            else:
                instants.append((r, stack[-1][1] if stack else None))
        unmatched += len(stack)
    return calls, unmatched, instants


def trace_expected(rows):
    """Every value the trace workloads check, from the raw event rows."""
    calls, unmatched, instants = match_calls(rows)
    per_pn = defaultdict(lambda: [0, 0, 0])  # (process, name) → n, Σinc, Σexc
    edges = Counter()
    edge_ns = Counter()
    idle = Counter()
    exc_by_proc = Counter()
    root_inc = Counter()
    for proc, name, _t0, _t1, inc, exc, depth, path in calls:
        a = per_pn[(proc, name)]
        a[0] += 1
        a[1] += inc
        a[2] += exc
        caller = path[-2] if len(path) > 1 else "<root>"
        edges[(caller, name)] += 1
        edge_ns[(caller, name)] += inc
        exc_by_proc[proc] += exc
        if depth == 0:
            root_inc[proc] += inc
        if name == "Idle":
            idle[proc] += inc
    procs = sorted({r[0] for r in rows})
    imbalance = {}
    for name in {n for _p, n in per_pn}:
        v = [per_pn[(p, name)][2] for p in procs if (p, name) in per_pn]
        imbalance[name] = (max(v) / (sum(v) / len(v)), sum(v) / len(v))

    # communication: byte matrix from sends, FIFO pairs per channel
    sends, recvs = defaultdict(list), defaultdict(list)
    for r, enter_ts in instants:
        if r[5] == "MpiSend":
            ch = (r[0], int(r[6]["receiver"]))
            sends[ch].append((r[2], r[3], int(r[6]["msg_length"])))
        elif r[5] == "MpiRecv":
            ch = (int(r[6]["sender"]), r[0])
            recvs[ch].append((r[2], r[3], enter_ts))
    bytes_sent = {ch: float(sum(m[2] for m in v)) for ch, v in sends.items()}
    bytes_recv = Counter()
    channels = {}
    for ch in set(sends) | set(recvs):
        s = sorted(sends.get(ch, []))
        q = sorted(recvs.get(ch, []))
        pairs = list(zip(s, q))
        lat = [rv[0] - sd[0] for sd, rv in pairs]
        waits = [max(sd[0] - rv[2], 0) for sd, rv in pairs]
        channels[ch] = {
            "n_sends": len(s), "n_recvs": len(q), "n_matched": len(pairs),
            "total_latency_ns": sum(lat),
            "n_late": sum(1 for sd, rv in pairs if sd[0] > rv[2]),
            "total_wait_ns": sum(waits),
        }
        for sd, _rv in pairs:
            bytes_recv[ch] += sd[2]
    inflicted, suffered = Counter(), Counter()
    wait_procs = set()
    for (src, dst), c in channels.items():
        inflicted[src] += c["total_wait_ns"]
        suffered[dst] += c["total_wait_ns"]
        if c["n_matched"]:
            wait_procs |= {src, dst}

    ts = [r[2] for r in rows]
    return {
        "n_rows": len(rows),
        "unmatched": unmatched,
        "max_depth": max(c[6] for c in calls),
        "per_pn": {k: tuple(v) for k, v in per_pn.items()},
        "exc_by_proc": dict(exc_by_proc),
        "root_inc": dict(root_inc),
        "edges": {k: (edges[k], edge_ns[k]) for k in edges},
        "cct_paths": len({c[7] for c in calls}),
        "idle": {p: idle.get(p, 0) for p in procs},
        "imbalance": imbalance,
        "bytes_sent": bytes_sent,
        "bytes_recv": {k: float(v) for k, v in bytes_recv.items()},
        "channels": channels,
        "inflicted": dict(inflicted),
        "suffered": dict(suffered),
        "wait_procs": wait_procs,
        "total_exc": sum(c[5] for c in calls),
        "ts_range": (min(ts), max(ts)),
        "procs": procs,
        "slow_calls": _slow_calls(calls, 0.95),
    }


def _slow_calls(calls, p: float):
    """Per name: the exact p-quantile of the calls' inclusive times
    (linear interpolation between the two nearest ranks), rounded to 6
    places, and how many calls exceed it. Names none exceeds are left
    out."""
    incs = defaultdict(list)
    for c in calls:
        incs[c[1]].append(float(c[4]))
    out = {}
    for name, v in incs.items():
        v.sort()
        pos = (len(v) - 1) * p
        lo, hi = math.floor(pos), math.ceil(pos)
        th = v[lo] if lo == hi else (hi - pos) * v[lo] + (pos - lo) * v[hi]
        th = round(th, 6)
        n = sum(1 for x in v if x > th)
        if n:
            out[name] = (th, n)
    return out


# --------------------------------------------------------------- corpus


def tokens(text: str) -> list[str]:
    return text.split()


def normalized_key(text: str) -> str:
    """What exact dedup compares: lowercased, whitespace-collapsed text."""
    return " ".join(text.split()).lower()


def shingles(text: str, n: int) -> set[str]:
    t = tokens(text)
    if len(t) < n:
        return {" ".join(t)}
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard_pairs(docs, n: int, threshold: float, max_df: int):
    """All (a, b, jaccard) with a < b and Jaccard ≥ ``threshold`` over
    word n-gram sets, through an inverted index: only shingles held by 2
    to ``max_df`` documents count towards the intersection, and set
    sizes count every distinct shingle. ``docs`` is [(doc_id, text)]."""
    sets = {d: shingles(t, n) for d, t in docs}
    postings = defaultdict(list)
    for d, s in sets.items():
        for sh in s:
            postings[sh].append(d)
    common = Counter()
    for ids in postings.values():
        if 2 <= len(ids) <= max_df:
            ids = sorted(ids)
            for i, a in enumerate(ids):
                for b in ids[i + 1:]:
                    common[(a, b)] += 1
    out = {}
    for (a, b), c in common.items():
        j = c / (len(sets[a]) + len(sets[b]) - c)
        if j >= threshold:
            out[(a, b)] = round(j, 6)
    return out


# the marker-word language heuristic clean_corpus documents: most marker
# hits wins, earlier languages win ties, no hit at all is "und"
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "das", "und", "nicht"],
    "fr": ["le", "la", "les", "et", "des"],
    "zh": ["de5", "shi4", "le5", "bu4", "wo3"],
}


def passes_filters(text: str, lang: str = "en", min_tokens: int = 10,
                   max_tokens: int = 100_000, min_quality: float = 0.3) -> bool:
    """clean_corpus's filters: predicted language, token window, and
    quality = min(tokens / 50, 1) × (1 − punctuation share), rounded to
    6 places."""
    toks = tokens(text.lower())
    hits = {lg: sum(t in m for t in toks) for lg, m in LANG_MARKERS.items()}
    best = max(hits.values())
    pred = next(lg for lg in LANG_MARKERS if hits[lg] == best) if best else "und"
    n = len(toks)
    punct = sum(text.count(c) for c in ".,;:!?")
    quality = round(min(n / 50.0, 1.0) * (1.0 - punct / len(text)), 6)
    return pred == lang and min_tokens <= n <= max_tokens \
        and quality >= min_quality


def clean_keep(docs) -> set[int]:
    """Survivors of the filters, then one (the smallest doc_id) per
    normalized text."""
    first = {}
    for d, t in docs:
        if not passes_filters(t):
            continue
        k = normalized_key(t)
        if k not in first or d < first[k]:
            first[k] = d
    return set(first.values())


def exact_topk(corpus_ids, corpus_vecs, query_ids, query_vecs, k: int):
    """Brute-force cosine top-k per query, ties to the smaller id."""
    c = corpus_vecs.astype(np.float64)
    q = query_vecs.astype(np.float64)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    sims = q @ c.T
    ids = np.asarray(corpus_ids)
    out = {}
    for i, qid in enumerate(query_ids):
        order = np.lexsort((ids, -sims[i]))[:k]
        out[int(qid)] = [int(ids[j]) for j in order]
    return out


def rrf(lists, k0: int = 60, k: int = 5, scale: int = 10**9):
    """Reciprocal-rank fusion recomputed from component lists, each
    {query_id: [(rank, item_id), ...]}: score = Σ scale // (k0 + rank),
    top-k by score desc then item id. Returns
    {query_id: [(rank, item_id, score), ...]}."""
    score = defaultdict(Counter)
    for lst in lists:
        for qid, hits in lst.items():
            for rank, item in hits:
                score[qid][item] += scale // (k0 + rank)
    out = {}
    for qid, s in score.items():
        top = sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[qid] = [(i + 1, item, sc) for i, (item, sc) in enumerate(top)]
    return out


# ------------------------------------------------------------ self-test

_FOO_BAR = """\
0,Enter,main(),0
1,Enter,foo(),0
3,Enter,MPI_Send,0
5,Leave,MPI_Send,0
8,Enter,baz(),0
18,Leave,baz(),0
25,Leave,foo(),0
100,Leave,main(),0
0,Enter,main(),1
1,Enter,bar(),1
2,Enter,Idle,1
10,Leave,Idle,1
10,Enter,MPI_Recv,1
14,Leave,MPI_Recv,1
39,Leave,bar(),1
39,Enter,Idle,1
57,Leave,Idle,1
57,Enter,grault(),1
77,Leave,grault(),1
100,Leave,main(),1
"""


def self_test() -> None:
    """The reference foo-bar trace: process 0 foo() has inc 24 s and
    exc 24 − (2 + 10) = 12 s. Raises AssertionError otherwise."""
    rows = []
    for seq, line in enumerate(_FOO_BAR.splitlines()):
        t, kind, name, proc = line.split(",")
        rows.append((int(proc), 0, int(t) * 10**9, seq, kind, name, None))
    exp = trace_expected(rows)
    n, inc, exc = exp["per_pn"][(0, "foo()")]
    if (n, inc, exc) != (1, 24 * 10**9, 12 * 10**9):
        raise AssertionError(f"foo-bar self-test: foo() = {(n, inc, exc)}")
    if exp["unmatched"] != 0 or exp["max_depth"] != 2:
        raise AssertionError("foo-bar self-test: bad nesting")
    # Σ exc per process equals the root's inclusive time
    if exp["exc_by_proc"] != exp["root_inc"]:
        raise AssertionError("foo-bar self-test: Σ exc != root inc")


if __name__ == "__main__":
    self_test()
    print("expected.py self-test: foo() inc=24s exc=12s ok")
