"""Seeded multi-rank OTF2 archive with a nested call tree and MPI traffic.

Writes the binary grammar that ``pipit_spark/sources/otf2_native.py``
documents: an archive directory with ``traces.def`` (clock, strings,
regions, locations) and one ``traces/<rank>.evt`` per rank. Integers are
size-prefixed, ``0x05`` records carry the timestamp of the next event,
Enter/Leave payloads are the raw region bytes, and MPI send/recv records
carry (peer, communicator, tag, length) as size-prefixed fields.

Shape of one rank (one location, thread 0)::

    main
      init
      step × iterations             (iteration k starts at k × ITER_NS on
        <random subtree, depth ≤ max_depth>        every rank, so ranks
        halo                                       stay roughly in step)
          MPI_Send  · MpiSend instant → rank (p + s_k) mod N
          MPI_Recv  · MpiRecv instant ← rank (p − s_k) mod N
        Idle        (every third iteration)
      finalize

with shift ``s_k = 1 + k mod (N − 1)``, so every ordered pair of ranks
exchanges messages. The length of the c-th message on channel (p → q) is
a function of (seed, p, q, c) that both sides evaluate.

Besides the archive, :func:`generate` returns the generator's own record
of what it wrote — the ground truth ``expected.py`` is checked against —
and the event rows in canonical column order.
"""

from __future__ import annotations

import os
import random
import struct

CLOCK_HZ = 1_000_000_000  # one tick per ns: timestamps round-trip exactly
ITER_NS = 400_000
_HEADER = b"\x03\x42" + struct.pack("<QQ", 0, 0)
_EVT_ENTER, _EVT_LEAVE, _EVT_SEND, _EVT_RECV = 0x0C, 0x0D, 0x0E, 0x12

# region names by call-tree level; the random subtree below `step`
# draws its names from COMPUTE, so distinct call paths multiply with depth
FIXED = ["main", "init", "step", "halo", "MPI_Send", "MPI_Recv", "Idle",
         "finalize"]
COMPUTE = ["compute", "kernel_a", "kernel_b", "kernel_c", "reduce",
           "pack", "unpack"]
REGIONS = FIXED + COMPUTE
_REGION_ID = {name: i for i, name in enumerate(REGIONS)}


def _sp(v: int) -> bytes:
    """Size-prefixed little-endian integer (the reader's ``_sp_int``)."""
    if v == 0:
        return b"\x01\x00"
    n = (v.bit_length() + 7) // 8
    return bytes([n]) + v.to_bytes(n, "little")


def _rec(t: int, payload: bytes) -> bytes:
    return bytes([t, len(payload)]) + payload


def msg_length(seed: int, src: int, dst: int, c: int) -> int:
    return 64 * (1 + (seed * 7 + src * 31 + dst * 17 + c * 13) % 16)


def shift(k: int, ranks: int) -> int:
    return 1 + k % (ranks - 1)


def _write_defs(path: str, ranks: int) -> None:
    recs = [_rec(5, _sp(CLOCK_HZ) + _sp(0) + _sp(0))]
    for i, name in enumerate(REGIONS):
        recs.append(_rec(10, _sp(i) + name.encode() + b"\x00"))
    for r in range(ranks):
        recs.append(_rec(10, _sp(1000 + r) + f"rank {r}".encode() + b"\x00"))
    for i in range(len(REGIONS)):
        recs.append(_rec(15, _sp(i) + _sp(i)))
    for r in range(ranks):
        # location ref, name ref, type byte, event count, group (= rank)
        recs.append(_rec(14, _sp(r) + _sp(1000 + r) + b"\x01" + _sp(0)
                         + _sp(r)))
    with open(path, "wb") as f:
        f.write(_HEADER + b"".join(recs) + b"\x02")


class _Rank:
    """Event writer for one rank: appends OTF2 records and canonical rows,
    and records every call it closes."""

    def __init__(self, p: int, rng: random.Random):
        self.p, self.rng = p, rng
        self.t = rng.randrange(0, 1000)
        self.out = [_HEADER]
        self.rows = []   # (process, thread, ts, seq, type, name, attrs)
        self.calls = []  # (process, name, enter, leave, depth, path)
        self.stack = []  # (name, enter_ts)

    def _emit(self, code: int, payload: bytes, etype: str, name: str,
              attrs=None) -> None:
        self.out.append(b"\x05" + struct.pack("<Q", self.t))
        self.out.append(_rec(code, payload))
        self.rows.append((self.p, 0, self.t, len(self.rows), etype, name,
                          attrs))

    def advance(self, lo: int, hi: int) -> None:
        self.t += self.rng.randrange(lo, hi)

    def enter(self, name: str) -> None:
        self.advance(5, 60)
        rid = _REGION_ID[name]
        self._emit(_EVT_ENTER, rid.to_bytes(max(1, (rid.bit_length() + 7) // 8),
                                            "little"), "Enter", name)
        self.stack.append((name, self.t))

    def leave(self) -> None:
        self.advance(5, 60)
        name, t0 = self.stack.pop()
        rid = _REGION_ID[name]
        self._emit(_EVT_LEAVE, rid.to_bytes(max(1, (rid.bit_length() + 7) // 8),
                                            "little"), "Leave", name)
        path = tuple(n for n, _ in self.stack) + (name,)
        self.calls.append((self.p, name, t0, self.t, len(self.stack), path))

    def message(self, send: bool, peer: int, length: int) -> None:
        self.advance(1, 20)
        fields = _sp(peer) + _sp(0) + _sp(7) + _sp(length)
        if send:
            self._emit(_EVT_SEND, fields, "Instant", "MpiSend",
                       {"receiver": str(peer), "communicator": "0",
                        "msg_tag": "7", "msg_length": str(length)})
        else:
            self._emit(_EVT_RECV, fields, "Instant", "MpiRecv",
                       {"sender": str(peer), "communicator": "0",
                        "msg_tag": "7", "msg_length": str(length)})

    def subtree(self, depth: int, max_depth: int) -> None:
        # two candidate names per level keeps the call-path count bounded
        self.enter(COMPUTE[(depth + 3 * self.rng.randrange(2)) % len(COMPUTE)])
        self.advance(200, 3000)
        if depth < max_depth:
            for _ in range(self.rng.choice((0, 1, 1, 2))):
                self.subtree(depth + 1, max_depth)
                self.advance(50, 500)
        self.leave()


def generate(outdir: str, seed: int, ranks: int, iterations: int,
             max_depth: int) -> dict:
    """Write the archive under ``outdir`` and return
    ``{"rows", "calls", "messages", "ranks", "max_depth"}``.

    ``messages`` maps channel (src, dst) to its sends in program order as
    ``(send_ts, length)`` and its receives as ``recv_ts``; ``calls`` is
    every closed call as (process, name, enter_ns, leave_ns, depth,
    call path)."""
    if ranks < 2:
        raise ValueError("need at least two ranks for MPI traffic")
    os.makedirs(os.path.join(outdir, "traces"), exist_ok=True)
    _write_defs(os.path.join(outdir, "traces.def"), ranks)
    rows, calls = [], []
    sends: dict = {}
    recvs: dict = {}
    for p in range(ranks):
        w = _Rank(p, random.Random(seed * 1_000_003 + p))
        sent: dict = {}
        got: dict = {}
        w.enter("main")
        w.enter("init")
        w.advance(1000, 5000)
        w.leave()
        for k in range(iterations):
            w.t = max(w.t, (k + 1) * ITER_NS + w.rng.randrange(0, 2000))
            w.enter("step")
            # depth of `step` is 1; its subtree starts at depth 2
            for _ in range(w.rng.choice((1, 2, 2, 3))):
                w.subtree(2, max_depth)
            s = shift(k, ranks)
            dst, src = (p + s) % ranks, (p - s) % ranks
            w.enter("halo")
            w.enter("MPI_Send")
            c = sent.get(dst, 0)
            sent[dst] = c + 1
            w.message(True, dst, msg_length(seed, p, dst, c))
            sends.setdefault((p, dst), []).append(
                (w.t, msg_length(seed, p, dst, c)))
            w.leave()
            w.enter("MPI_Recv")
            c = got.get(src, 0)
            got[src] = c + 1
            w.advance(100, 4000)
            w.message(False, src, msg_length(seed, src, p, c))
            recvs.setdefault((src, p), []).append(w.t)
            w.leave()
            w.leave()
            if k % 3 == 2:
                w.enter("Idle")
                w.advance(500, 5000)
                w.leave()
            w.leave()
        w.enter("finalize")
        w.advance(1000, 5000)
        w.leave()
        w.leave()
        w.out.append(b"\x02")
        with open(os.path.join(outdir, "traces", f"{p}.evt"), "wb") as f:
            f.write(b"".join(w.out))
        rows.extend(w.rows)
        calls.extend(w.calls)
    messages = {ch: (sends.get(ch, []), recvs.get(ch, []))
                for ch in set(sends) | set(recvs)}
    return {"rows": rows, "calls": calls, "messages": messages,
            "ranks": ranks, "max_depth": max(c[4] for c in calls)}
