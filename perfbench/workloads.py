"""The benchmark's workloads: inputs, one pass of library calls, checks.

A workload object has ``generate()`` (writes its inputs: the repeatable
part of set-up), ``prepare(spark, ops)`` (expected values, untimed),
``run_pass(spark, ops, traced)`` (one pass: every call timed, every
result checked; returns the pass seconds), ``layers`` (per-layer values
of the last traced pass) and ``quality`` (recall figures, for the run
context). Each pass starts from ``queries.clear_state`` and
builds fresh objects, so no memo or cached frame carries over.
"""

from __future__ import annotations

import math
import os
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

import expected as E
import gen_corpus
import gen_trace
from probe import expect

# ----------------------------------------------------------------- trace

TRACE_RANKS = 4
TRACE_ITERATIONS = 80
TRACE_MAX_DEPTH = 6
TIME_BINS = 50


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-6)


class TraceWorkload:
    """OTF2 archive → ``Trace.from_otf2`` → ``matched`` →
    ``to_parquet(include_derived=True)``, then ``Trace.from_parquet`` on
    that checkpoint and the analysis set."""

    name = "trace"

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.archive = os.path.join(work, "archive")
        self.ckpt = os.path.join(work, "checkpoint")
        self.layers: dict[str, float] = {}
        self.quality: dict[str, float] = {}

    def generate(self) -> None:
        shutil.rmtree(self.archive, ignore_errors=True)
        self.truth = gen_trace.generate(
            self.archive, self.seed, TRACE_RANKS, TRACE_ITERATIONS,
            TRACE_MAX_DEPTH)

    def sizes(self) -> dict:
        return {"ranks": TRACE_RANKS, "iterations": TRACE_ITERATIONS,
                "max_depth": self.truth["max_depth"],
                "events": len(self.truth["rows"]),
                "calls": len(self.truth["calls"])}

    def prepare(self, spark, ops) -> None:
        self.exp = E.trace_expected(self.truth["rows"])
        # the generator's own record must agree with the stack match
        ops.check("generator_truth", self._check_truth, self.exp)

    def _check_truth(self, exp) -> None:
        calls = sorted(self.truth["calls"])
        got, _, _ = E.match_calls(self.truth["rows"])
        expect(calls == sorted((c[0], c[1], c[2], c[3], c[6], c[7])
                               for c in got), "calls differ")
        for (src, dst), (snd, rcv) in self.truth["messages"].items():
            ch = exp["channels"][(src, dst)]
            lat = sum(r - s[0] for s, r in zip(snd, rcv))
            expect(ch["total_latency_ns"] == lat, f"latency {src}->{dst}")
            expect(exp["bytes_sent"][(src, dst)] == sum(s[1] for s in snd),
                   f"bytes {src}->{dst}")

    # -- one pass -------------------------------------------------------
    def run_pass(self, spark, ops, traced: bool = False) -> float:
        from pipit_spark import Trace, queries

        queries.clear_state(spark)
        shutil.rmtree(self.ckpt, ignore_errors=True)
        total = 0.0
        if traced:
            total += self._ingest_traced(spark, ops)
        else:
            def ingest():
                t = Trace.from_otf2(spark, self.archive)
                t.to_parquet(self.ckpt, include_derived=True)
                t.unpersist()
                return True
            _, dt = ops.call("trace.ingest", ingest)
            total += dt
        ops.check("checkpoint", self._check_checkpoint,
                  True if os.path.isdir(self.ckpt) else None)

        t, dt = ops.call("trace.open", lambda: Trace.from_parquet(spark,
                                                                  self.ckpt))
        total += dt
        if traced and t is not None:
            _, dt = ops.call("trace.time_stats", t.time_stats)
            total += dt
        res = {}
        for name, fn, check in self.analyses():
            out, dt = ops.call(name, lambda f=fn: f(t).collect())
            total += dt
            res[name] = out
            self.layers[name + "_s"] = dt
            ops.check(name, check, out)
        if t is not None:
            t.unpersist()
        if traced:
            self.layers["trace.open_s"] = ops.tracer.seconds("trace.open")
            self.layers["trace.time_stats_s"] = ops.tracer.seconds(
                "trace.time_stats")
            self.layers["cct.nodes"] = float(len(res["cct.cct"] or ()))
            self.layers["comm.messages"] = float(sum(
                r["n_matched"] for r in res["comm.message_latency"] or ()))
        return total

    def _ingest_traced(self, spark, ops) -> float:
        """The ingest with each stage forced on its own: the read (a count
        over the parsed events), the match (a count over the matched
        frame, which re-reads the archive, so the read is subtracted to
        give its self time) and the checkpoint write (from the persisted
        matched frame)."""
        from pipit_spark import Trace

        t, t_open = ops.call("otf2.read", lambda: Trace.from_otf2(
            spark, self.archive))
        if t is None:
            return t_open
        n, t_read = ops.call("otf2.count", t.events.count)
        _, t_match = ops.call("matching.match", lambda: t.matched.count())
        _, t_write = ops.call("trace.checkpoint_write", lambda: t.to_parquet(
            self.ckpt, include_derived=True))
        t.unpersist()
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.ckpt)
                 for f in fs if f.endswith(".parquet")]
        self.layers.update({
            "otf2.read_s": t_open + t_read,
            "otf2.events": float(n or 0),
            "matching.match_s": max(t_match - t_read, 0.0),
            "trace.checkpoint_write_s": t_write,
            "trace.checkpoint_mb": sum(os.path.getsize(f)
                                       for f in files) / 2 ** 20,
            "trace.checkpoint_files": float(len(files)),
        })
        return t_open + t_read + t_match + t_write

    # -- analysis set and its checks ------------------------------------
    def analyses(self):
        return [
            ("profile.flat_profile",
             lambda t: t.flat_profile(metrics=["time_inc", "time_exc"],
                                      per_process=True), self._c_flat),
            ("profile.load_imbalance", lambda t: t.load_imbalance(),
             self._c_imbalance),
            ("profile.time_profile",
             lambda t: t.time_profile(num_bins=TIME_BINS), self._c_time),
            ("profile.caller_callee", lambda t: t.caller_callee(),
             self._c_callers),
            ("profile.idle_time", lambda t: t.idle_time(), self._c_idle),
            ("profile.slow_calls", lambda t: t.slow_calls(), self._c_slow),
            ("cct.cct", lambda t: t.cct, self._c_cct),
            ("comm.comm_matrix", lambda t: t.comm_matrix(), self._c_matrix),
            ("comm.message_latency", lambda t: t.message_latency(),
             self._c_latency),
            ("comm.late_senders", lambda t: t.late_senders(), self._c_late),
            ("comm.wait_attribution", lambda t: t.wait_attribution(),
             self._c_wait),
            ("comm.comm_over_time", lambda t: t.comm_over_time(bins=TIME_BINS),
             self._c_over_time),
        ]

    def _check_checkpoint(self, _ok) -> None:
        cols = ["name", "event_type", "matching_event_id", "time_inc",
                "depth", "process"]
        tab = pq.read_table(self.ckpt, columns=cols).to_pandas()
        exp = self.exp
        expect(len(tab) == exp["n_rows"],
               f"checkpoint rows {len(tab)} != {exp['n_rows']}")
        el = tab[tab.event_type.isin(["Enter", "Leave"])]
        unmatched = int(el.matching_event_id.isna().sum())
        self.layers["matching.unmatched"] = float(unmatched)
        expect(unmatched == 0, f"{unmatched} unmatched Enter/Leave rows")
        ent = tab[tab.event_type == "Enter"]
        self.layers["matching.max_depth"] = float(ent.depth.max())
        expect(int(ent.depth.max()) == exp["max_depth"], "max depth")
        g = ent.groupby([ent.process.astype(int), "name"]).time_inc.agg(
            ["count", "sum"])
        got = {k: (int(r["count"]), float(r["sum"])) for k, r in g.iterrows()}
        want = {k: (v[0], float(v[1])) for k, v in exp["per_pn"].items()}
        expect(got == want, "per-(process, name) call counts / Σ time_inc")

    def _c_flat(self, rows) -> None:
        got = {(r["process"], r["name"]): (r["time_inc"], r["time_exc"])
               for r in rows}
        want = {k: (float(v[1]), float(v[2]))
                for k, v in self.exp["per_pn"].items()}
        expect(got == want, "flat_profile inc/exc per (process, name)")
        exc = Counter()
        for (p, _n), (_i, x) in got.items():
            exc[p] += x
        expect(all(exc[p] == self.exp["root_inc"][p] for p in exc),
               "Σ exc per process != root inclusive time")

    def _c_imbalance(self, rows) -> None:
        want = self.exp["imbalance"]
        expect(len(rows) == len(want), "load_imbalance names")
        for r in rows:
            ratio, mean = want[r["name"]]
            expect(_close(r["time_exc_imbalance"], ratio)
                   and _close(r["time_exc_mean"], mean),
                   f"load_imbalance {r['name']}")

    def _c_time(self, rows) -> None:
        lo, hi = self.exp["ts_range"]
        busy = sum(r["time"] for r in rows if r["name"] != "idle_time")
        allt = sum(r["time"] for r in rows)
        expect(len({r["bin_idx"] for r in rows}) == TIME_BINS, "bins")
        expect(_close(busy, self.exp["total_exc"], 1e-6),
               f"time_profile busy {busy} != Σ exc {self.exp['total_exc']}")
        expect(_close(allt, (hi - lo) * len(self.exp["procs"]), 1e-6),
               "time_profile bins do not cover the trace")

    def _c_callers(self, rows) -> None:
        got = {(r["caller"], r["callee"]): (r["n_calls"], r["total_ns"])
               for r in rows}
        expect(got == self.exp["edges"], "caller_callee edges")

    def _c_idle(self, rows) -> None:
        got = {r["process"]: r["idle_time"] for r in rows}
        expect(got == {p: float(v) for p, v in self.exp["idle"].items()},
               "idle_time per process")

    def _c_slow(self, rows) -> None:
        want = self.exp["slow_calls"]
        expect(rows and want, "slow_calls: no slow call")
        th = {}
        for r in rows:
            expect(r["time_inc"] > r["threshold"], "slow call under threshold")
            th.setdefault(r["name"], r["threshold"])
        per_name = Counter(r["name"] for r in rows)
        expect(per_name.keys() == want.keys(), "slow_calls names")
        for name, (threshold, n) in want.items():
            expect(_close(th[name], threshold), f"threshold {name}")
            expect(per_name[name] == n, f"slow_calls count {name}")

    def _c_cct(self, rows) -> None:
        expect(len(rows) == self.exp["cct_paths"],
               f"cct nodes {len(rows)} != paths {self.exp['cct_paths']}")

    def _c_matrix(self, rows) -> None:
        got = {(r["sender"], r["receiver"]): r["volume"] for r in rows}
        expect(got == self.exp["bytes_sent"], "comm_matrix bytes")
        expect(sum(got.values()) == sum(self.exp["bytes_recv"].values()),
               "bytes sent != bytes received")

    def _c_latency(self, rows) -> None:
        ch = self.exp["channels"]
        expect(len(rows) == len(ch), "message_latency channels")
        for r in rows:
            c = ch[(r["src"], r["dst"])]
            expect((r["n_sends"], r["n_recvs"], r["n_matched"],
                    r["total_latency_ns"]) ==
                   (c["n_sends"], c["n_recvs"], c["n_matched"],
                    c["total_latency_ns"]),
                   f"message_latency {r['src']}->{r['dst']}")
            expect(_close(r["mean_latency_ns"],
                          c["total_latency_ns"] / c["n_matched"]),
                   "mean latency")

    def _c_late(self, rows) -> None:
        ch = self.exp["channels"]
        expect(len(rows) == len(ch), "late_senders channels")
        for r in rows:
            c = ch[(r["src"], r["dst"])]
            expect((r["n_matched"], r["n_late"], r["total_wait_ns"]) ==
                   (c["n_matched"], c["n_late"], c["total_wait_ns"]),
                   f"late_senders {r['src']}->{r['dst']}")

    def _c_wait(self, rows) -> None:
        got = {r["process"]: (r["inflicted_ns"], r["suffered_ns"])
               for r in rows}
        expect(len(got) == len(rows), "wait_attribution duplicate process")
        expect(got.keys() == self.exp["wait_procs"],
               "wait_attribution processes")
        for p, v in got.items():
            expect(v == (self.exp["inflicted"].get(p, 0),
                         self.exp["suffered"].get(p, 0)),
                   f"wait_attribution {p}")

    def _c_over_time(self, rows) -> None:
        expect(len(rows) == TIME_BINS, "comm_over_time bins")
        expect(sum(r["count"] for r in rows)
               == sum(self.exp["bytes_sent"].values()),
               "comm_over_time bytes")


# ---------------------------------------------------------------- corpus

DOCS_BASE = 400
EXACT_FAMILIES = 25
NEAR_FAMILIES = 25
VECTORS = 400
CLUSTERS = 12
DIM = 32
QUERY_EVERY = 25
TOPK = 5
NGRAM_N, NGRAM_THRESHOLD, NGRAM_MAX_DF = 3, 0.6, 1000
# floors sit well under what the methods reached on every seed tried
# (15 seeds: MinHash recall ≥ 0.98, RRF recall@5 ≥ 0.92)
MINHASH_RECALL_FLOOR = 0.85
RRF_RECALL_FLOOR = 0.70


class CorpusWorkload:
    """``clean_corpus``, ``minhash_lsh_pairs``, ``ngram_jaccard_pairs``,
    ``bm25_topk`` and ``rrf_fuse(lsh_topk_portable, ivf_topk_portable)``
    over parquet inputs read fresh every pass."""

    name = "corpus_dedup_search"

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.work = work
        self.paths = {k: os.path.join(work, f"{k}.parquet")
                      for k in ("docs", "vectors", "queries")}
        self.layers: dict[str, float] = {}
        self.quality: dict[str, float] = {}

    def generate(self) -> None:
        self.gd = gen_corpus.generate_docs(self.seed, DOCS_BASE,
                                           EXACT_FAMILIES, NEAR_FAMILIES)
        self.gv = gen_corpus.generate_vectors(self.seed, VECTORS, CLUSTERS,
                                              DIM, QUERY_EVERY)
        ids, text = zip(*self.gd["docs"])
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(text, pa.string())}),
                       self.paths["docs"])
        emb_t = pa.list_(pa.float32())
        for key, mask in (("vectors", ~self.gv["query_mask"]),
                          ("queries", self.gv["query_mask"])):
            pq.write_table(pa.table({
                "vec_id": pa.array(self.gv["ids"][mask], pa.int64()),
                "embedding": pa.array(list(self.gv["vecs"][mask]), emb_t),
            }), self.paths[key])

    def sizes(self) -> dict:
        m = self.gv["query_mask"]
        return {"docs": len(self.gd["docs"]),
                "exact_families": EXACT_FAMILIES,
                "near_families": NEAR_FAMILIES,
                "vectors": int((~m).sum()), "queries": int(m.sum()),
                "dim": DIM, "clusters": CLUSTERS,
                "bm25_queries": len(self.gd["queries"])}

    def prepare(self, spark, ops) -> None:
        docs = self.gd["docs"]
        self.keep = E.clean_keep(docs)
        self.pairs = E.jaccard_pairs(docs, NGRAM_N, NGRAM_THRESHOLD,
                                     NGRAM_MAX_DF)
        self.planted = {(min(a, b), max(a, b))
                        for fam in self.gd["exact_families"]
                        + self.gd["near_families"]
                        for i, a in enumerate(fam) for b in fam[i + 1:]}
        self.doc_tokens = {d: set(E.tokens(t)) for d, t in docs}
        m = self.gv["query_mask"]
        self.exact = E.exact_topk(self.gv["ids"][~m], self.gv["vecs"][~m],
                                  self.gv["ids"][m], self.gv["vecs"][m], TOPK)

    def _searcher(self, spark, which: str):
        """A fresh search plan over freshly read vectors; each call pays
        the searchers' own eager set-up (the dimension probe)."""
        from pipit_spark.llm import similarity as V

        vecs = spark.read.parquet(self.paths["vectors"])
        qs = spark.read.parquet(self.paths["queries"])
        lsh = lambda: V.lsh_topk_portable(vecs, qs, k=TOPK)  # noqa: E731
        ivf = lambda: V.ivf_topk_portable(  # noqa: E731
            vecs, qs, k=TOPK, nlist=8, nprobe=3)
        if which == "lsh":
            return lsh()
        if which == "ivf":
            return ivf()
        return V.rrf_fuse([lsh(), ivf()], k=TOPK)

    def run_pass(self, spark, ops, traced: bool = False) -> float:
        from pipit_spark import queries
        from pipit_spark.llm import dedup as D, pipeline as P, text as X

        queries.clear_state(spark)
        docs, total = ops.call("corpus.read", lambda: spark.read.parquet(
            self.paths["docs"]))
        steps = [
            ("pipeline.clean_corpus", lambda: P.clean_corpus(docs),
             self._c_clean),
            ("dedup.minhash_lsh", lambda: D.minhash_lsh_pairs(docs),
             self._c_minhash),
            ("dedup.ngram_jaccard",
             lambda: D.ngram_jaccard_pairs(docs, n=NGRAM_N,
                                           threshold=NGRAM_THRESHOLD,
                                           max_df=NGRAM_MAX_DF),
             self._c_ngram),
            ("text.bm25", lambda: X.bm25_topk(docs, self.gd["queries"],
                                              k=TOPK), self._c_bm25),
        ]
        res = {}
        for name, fn, check in steps:
            out, dt = ops.call(name, lambda f=fn: f().collect())
            total += dt
            res[name] = out
            self.layers[name + "_s"] = dt
            ops.check(name, check, out)

        comps = []
        if traced:
            # the two component searches on their own, then the fusion,
            # which runs both again inside its plan
            for which in ("lsh", "ivf"):
                name = f"similarity.{which}_topk"
                rows, dt = ops.call(name, lambda w=which: self._searcher(
                    spark, w).collect())
                total += dt
                self.layers[name + "_s"] = dt
                comps.append(rows)
        out, dt = ops.call("similarity.rrf_fuse", lambda: self._searcher(
            spark, "rrf").collect())
        total += dt
        self.layers["similarity.rrf_fuse_s"] = dt
        ops.check("similarity.rrf_fuse", self._c_rrf, out)
        if traced:
            ops.check("similarity.rrf_components", self._c_rrf_components,
                      out, *comps)
            self.layers.update({
                "pipeline.docs_kept": float(len(res["pipeline.clean_corpus"]
                                                or ())),
                "dedup.minhash_pairs": float(len(res["dedup.minhash_lsh"]
                                                 or ())),
                "dedup.ngram_pairs": float(len(res["dedup.ngram_jaccard"]
                                               or ())),
                "similarity.results": float(len(out or ())),
            })
        return total

    # -- checks ---------------------------------------------------------
    def _c_clean(self, rows) -> None:
        kept = {r["doc_id"] for r in rows}
        expect(len(kept) == len(rows), "clean_corpus duplicate doc ids")
        expect(kept == self.keep,
               f"clean_corpus kept {len(kept)}, expected {len(self.keep)}")
        for fam in self.gd["exact_families"]:
            if self.keep & set(fam):
                expect(len(kept & set(fam)) == 1,
                       "exact-duplicate family not kept exactly once")

    def _c_minhash(self, rows) -> None:
        pairs = [(r["a"], r["b"]) for r in rows]
        expect(all(a < b for a, b in pairs), "self or unordered pair")
        expect(len(set(pairs)) == len(pairs), "duplicate pair")
        recall = len(self.planted & set(pairs)) / len(self.planted)
        self.quality["minhash_recall"] = recall
        expect(recall >= MINHASH_RECALL_FLOOR,
               f"minhash recall {recall:.3f} < {MINHASH_RECALL_FLOOR}")

    def _c_ngram(self, rows) -> None:
        got = {(r["a"], r["b"]): r["jaccard"] for r in rows}
        expect(got.keys() == self.pairs.keys(),
               f"ngram pairs {len(got)} != brute force {len(self.pairs)}")
        # both round to 6 places; half-up and half-even may differ by 1e-6
        expect(all(abs(v - self.pairs[k]) <= 1.5e-6 for k, v in got.items()),
               "ngram Jaccard values")

    def _c_bm25(self, rows) -> None:
        terms = {q: set(t.split()) for q, t in self.gd["queries"].items()}
        per_q = Counter(r["query_id"] for r in rows)
        for r in rows:
            expect(self.doc_tokens[r["doc_id"]] & terms[r["query_id"]],
                   f"bm25 hit {r['doc_id']} has no term of {r['query_id']}")
        for q, ts in terms.items():
            n = sum(1 for toks in self.doc_tokens.values() if toks & ts)
            expect(per_q.get(q, 0) == min(TOPK, n), f"bm25 hits for {q}")

    def _c_rrf(self, rows) -> None:
        """Every fused score is the RRF sum over the lists the item is in:
        scale // (k0 + best_rank), plus scale // (k0 + r) for some rank
        r ≥ best_rank when both lists hold it; ranks follow scores."""
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
            c = [10**9 // (60 + r["best_rank"])]
            ok = (r["n_lists"] == 1 and r["rrf_score"] == c[0]) or (
                r["n_lists"] == 2 and any(
                    r["rrf_score"] == c[0] + 10**9 // (60 + k)
                    for k in range(r["best_rank"], TOPK + 1)))
            expect(ok, f"RRF score of {r['query_id']}/{r['item_id']}")
        for q, rs in by_q.items():
            rs.sort(key=lambda r: r["rank"])
            expect([r["rank"] for r in rs] == list(range(1, len(rs) + 1)),
                   f"RRF ranks of {q}")
            expect(all((a["rrf_score"], -a["item_id"])
                       > (b["rrf_score"], -b["item_id"])
                       for a, b in zip(rs, rs[1:])), f"RRF order of {q}")
        hits = sum(len({r["item_id"] for r in by_q.get(q, [])} & set(top))
                   for q, top in self.exact.items())
        recall = hits / (TOPK * len(self.exact))
        self.layers["similarity.recall_at_k"] = recall
        self.quality["rrf_recall_at_k"] = recall
        expect(recall >= RRF_RECALL_FLOOR,
               f"RRF recall@{TOPK} {recall:.3f} < {RRF_RECALL_FLOOR}")

    def _c_rrf_components(self, rows, lsh_rows, ivf_rows) -> None:
        """The fused list recomputed from the two component lists."""
        lists = []
        for comp in (lsh_rows, ivf_rows):
            per_q = {}
            for r in comp:
                per_q.setdefault(r["query_id"], []).append(
                    (r["rank"], r["neighbor_id"]))
            lists.append(per_q)
        got = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["item_id"], r["rrf_score"]))
        expect(got == E.rrf(lists, k=TOPK),
               "fused list differs from the RRF of its components")


WORKLOADS = {w.name: w for w in (TraceWorkload, CorpusWorkload)}
