#!/usr/bin/env python3
"""Seeded syslog load generator for the relay workloads.

Runs as its own process. Every message is a pure function of
(seed, seq), so the checker in run.py re-renders the exact bytes that
were sent without storing them. The generator writes a ledger (numpy
.npz) with each message's sequence number, scheduled send time and
actual send time, both as epoch microseconds.

Modes:
  burst   closed loop: `--count` messages split over `--conns` TCP
          senders, written in fixed-size blocks that ignore message
          boundaries (as a buffering forwarder does). With
          `--conn-bytes N` a sender closes its connection and opens a
          new one, at a message boundary, before a connection would
          carry more than N bytes (0: one connection per sender). A
          message's scheduled time is the time the block holding its
          last byte was written.
  steady  open loop for `--seconds`: `--tcp-rate` msg/s on each of
          `--conns` TCP connections plus `--udp-rate` datagrams/s on
          one UDP socket. A message's scheduled time is when it was
          due, so a stalled sender shows up as latency.

    python3 perfbench/gen.py burst --seed 1 --first-seq 0 --count 1000 \
        --tcp-port 6601 --conns 4 --ledger /tmp/ledger.npz
"""
import argparse
import random
import socket
import sys
import threading
import time

import numpy as np

HOSTS = 256
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
WORDS = ("relay frame parse spool ship gzip batch record stream group "
         "listener socket drain retry window offset commit epoch seal "
         "packet header payload buffer flush queue worker thread").split()
BLOCK = 16 * 1024  # fixed write size of a buffering forwarder


def _mix(x):
    """splitmix64 over a uint64 array: per-message fields depend on
    (seed, seq) alone, whatever range is rendered."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


_BODIES = {}


def _bodies(seed):
    """Seeded body pools: 4096 short bodies (~10-60 B) and 64 long
    ones (1-4 KiB)."""
    if seed not in _BODIES:
        r = random.Random(seed)

        def body(lo, hi):
            target, words, n = r.randint(lo, hi), [], 0
            while n < target:
                w = WORDS[r.randrange(len(WORDS))]
                words.append(w)
                n += len(w) + 1
            return " ".join(words)
        _BODIES[seed] = ([body(10, 60) for _ in range(4096)],
                         [body(1024, 4096) for _ in range(64)])
    return _BODIES[seed]


def render_many(seed, seqs):
    """The exact text of each message in `seqs` (no terminator), ASCII.

    Half RFC3164, half RFC5424; 256 hosts; bodies mostly ~100 B with a
    2% tail of 1-4 KiB. `seq=` plus 10 digits right after the header
    makes every message unique and identifiable."""
    seqs = np.asarray(seqs, dtype=np.int64)
    h = _mix((np.uint64(seed) << np.uint64(32)) ^ seqs.astype(np.uint64))
    short, long_ = _bodies(seed)
    out = []
    for s, v in zip(seqs.tolist(), h.tolist()):
        host = v & 255
        pri = (v >> 8) % 192
        body = long_[(v >> 24) & 63] if (v >> 16) % 100 < 2 else short[(v >> 24) & 4095]
        sec = s % 86400
        hh, mm, ss = sec // 3600, (sec // 60) % 60, sec % 60
        if (v >> 40) & 1:
            out.append("<%d>%s %2d %02d:%02d:%02d host%03d.example app[%d]: seq=%010d %s" % (
                pri, MONTHS[s % 12], 1 + s % 28, hh, mm, ss, host,
                1 + (v >> 41) % 32767, s, body))
        else:
            out.append("<%d>1 2026-10-%02dT%02d:%02d:%02d.%03dZ host%03d.example app %d ID%d - seq=%010d %s" % (
                pri, 1 + s % 28, hh, mm, ss, s % 1000, host,
                1 + (v >> 41) % 32767, (v >> 56) % 100, s, body))
    return out


def now_us():
    return time.time_ns() // 1000


def burst(a):
    seqs = np.arange(a.first_seq, a.first_seq + a.count, dtype=np.int64)
    sched = np.zeros(a.count, dtype=np.int64)
    conn_of = (seqs % a.conns).astype(np.int8)
    per_conn = []
    for c in range(a.conns):
        mine = seqs[conn_of == c]
        parts = [(m + "\n").encode("ascii") for m in render_many(a.seed, mine)]
        ends = np.cumsum([len(b) for b in parts], dtype=np.int64)
        per_conn.append((mine, ends, b"".join(parts)))
    total = sum(len(p[2]) for p in per_conn)

    def segments(ends):
        """Byte ranges, one per connection, cut at message ends into
        near-equal parts of at most `conn_bytes` (one range when 0)."""
        n = 1 if a.conn_bytes <= 0 else -(-int(ends[-1]) // a.conn_bytes)
        while True:
            cuts = [0] + [int(ends[np.searchsorted(ends, ends[-1] * k // n, "right") - 1])
                          for k in range(1, n)] + [int(ends[-1])]
            if a.conn_bytes <= 0 or max(np.diff(cuts)) <= a.conn_bytes:
                return list(zip(cuts[:-1], cuts[1:]))
            n += 1

    def send(c):
        mine, ends, data = per_conn[c]
        sent_end = np.empty(len(ends), dtype=np.int64)
        for lo, hi in segments(ends):
            s = socket.create_connection(("127.0.0.1", a.tcp_port))
            for off in range(lo, hi, BLOCK):
                stamp = now_us()
                s.sendall(data[off:min(hi, off + BLOCK)])
                # a message is due when the block carrying its last byte went out
                k0 = np.searchsorted(ends, off, "right")
                k1 = np.searchsorted(ends, min(hi, off + BLOCK), "right")
                sent_end[k0:k1] = stamp
            s.close()
        sched[mine - a.first_seq] = sent_end

    threads = [threading.Thread(target=send, args=(c,)) for c in range(a.conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    np.savez(a.ledger, seq=seqs, sched_us=sched, sent_us=sched,
             bytes=np.array([total]), datagrams=np.array([0]))


def steady(a):
    """Open loop: each stream sends whatever is due, every millisecond."""
    streams = [("tcp", a.tcp_rate)] * a.conns + [("udp", a.udp_rate)]
    n_each = [int(rate * a.seconds) for _, rate in streams]
    total_msgs = sum(n_each)
    seq_arr = np.zeros(total_msgs, dtype=np.int64)
    sched = np.zeros(total_msgs, dtype=np.int64)
    sent = np.zeros(total_msgs, dtype=np.int64)
    byte_count = [0] * len(streams)
    t0 = now_us() + 200_000
    base, slot = [], 0
    for n in n_each:
        base.append(slot)
        slot += n

    def run(k):
        kind, rate = streams[k]
        n = n_each[k]
        if kind == "tcp":
            s = socket.create_connection(("127.0.0.1", a.tcp_port))
        else:
            s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            s.connect(("127.0.0.1", a.udp_port))
        i = 0
        period = 1e6 / rate
        while i < n:
            now = now_us()
            due = min(n, int((now - t0) / period) + 1) if now >= t0 else 0
            if due <= i:
                time.sleep(min(0.001, max(0.0, (t0 + i * period - now) / 1e6)))
                continue
            j0 = i
            # interleaved, unique sequence numbers across streams
            seqs = a.first_seq + len(streams) * np.arange(i, due) + k
            msgs = render_many(a.seed, seqs)
            seq_arr[base[k] + i:base[k] + due] = seqs
            sched[base[k] + i:base[k] + due] = t0 + (np.arange(i, due) * period).astype(np.int64)
            i = due
            if kind == "tcp":
                data = ("\n".join(msgs) + "\n").encode("ascii")
                s.sendall(data)
                byte_count[k] += len(data)
            else:
                for m in msgs:
                    s.send(m.encode("ascii"))
            sent[base[k] + j0:base[k] + i] = now_us()
        s.close()

    threads = [threading.Thread(target=run, args=(k,)) for k in range(len(streams))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    np.savez(a.ledger, seq=seq_arr, sched_us=sched, sent_us=sent,
             bytes=np.array([sum(byte_count[:a.conns])]),
             datagrams=np.array([n_each[-1]]))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("mode", choices=["burst", "steady"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--first-seq", type=int, default=0)
    p.add_argument("--count", type=int, default=0)
    p.add_argument("--conns", type=int, default=4)
    p.add_argument("--conn-bytes", type=int, default=0)
    p.add_argument("--tcp-port", type=int, required=True)
    p.add_argument("--udp-port", type=int, default=0)
    p.add_argument("--tcp-rate", type=float, default=4000)
    p.add_argument("--udp-rate", type=float, default=2000)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--ledger", required=True)
    a = p.parse_args()
    (burst if a.mode == "burst" else steady)(a)
    led = np.load(a.ledger)
    # one summary line for the harness: messages, TCP bytes, datagrams
    print("GEN %d %d %d" % (len(led["seq"]), int(led["bytes"][0]), int(led["datagrams"][0])))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
