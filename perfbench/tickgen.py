"""Seeded trade-tick feed for the `tick_ingest` workload.

One process, one thread, one connection. It listens on a loopback port,
accepts the engine's `TickSocketProvider` over `transport=ws` (RFC 6455:
HTTP upgrade, then one text frame per tick), reads the client's
`RESUME <seq>` message and serves ticks from that sequence number in the
reference's TSV framing:

    trade_id \t BTCUSDT \t price(8 dp) \t qty(8 dp) \t T(epoch ms) \t maker(0|1)

Schedule, all from --seed:
  * a warm-up block of --warmup ticks, due as soon as the client resumes;
  * --cycles cycles, each started when the control file `go-<k>` appears in
    --ctl: --live ticks with Poisson arrivals at --rate per second, then a
    backlog of --backlog ticks that all fall due 100 ms after the last live
    tick.

Every tick carries its due time as T. Trade ids are sequential from
BASE_ID, the price is a seeded walk in steps of 0.005 (so half-cent ties
occur and half-even rounding is exercised) and the quantity is seeded.

When every tick is sent it writes --log, a CSV of
seq,trade_id,price,qty,t_ms,maker,due_us,sent_us,phase,cycle
(phase 0 = warm-up, 1 = live, 2 = backlog), and exits once the client
disconnects.

Usage: python3 perfbench/tickgen.py --seed N --ctl DIR --log FILE
       --warmup N --cycles N --live N --rate R --backlog N
"""
import argparse
import base64
import hashlib
import os
import random
import socket
import sys
import time

WS_GUID = b"258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
BASE_ID = 3_000_000_000
TIMEOUT_S = 160  # give up on a client that never connects or never releases a cycle


def now_us():
    return time.time_ns() // 1000


def frame(text):
    """Server-to-client text frame (FIN, unmasked)."""
    data = text.encode()
    n = len(data)
    if n < 126:
        return bytes((0x81, n)) + data
    return bytes((0x81, 126, n >> 8, n & 0xFF)) + data


def read_exact(conn, n):
    buf = b""
    while len(buf) < n:
        chunk = conn.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("client closed during handshake")
        buf += chunk
    return buf


def handshake(conn):
    """Answers the HTTP upgrade and returns the client's RESUME sequence."""
    head = b""
    while b"\r\n\r\n" not in head:
        chunk = conn.recv(1)
        if not chunk:
            raise ConnectionError("client closed before upgrade")
        head += chunk
    key = None
    for line in head.decode("latin-1").split("\r\n"):
        if line.lower().startswith("sec-websocket-key:"):
            key = line.split(":", 1)[1].strip().encode()
    if key is None:
        raise ConnectionError("not a WebSocket upgrade")
    accept = base64.b64encode(hashlib.sha1(key + WS_GUID).digest())
    conn.sendall(b"HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
                 b"Connection: Upgrade\r\nSec-WebSocket-Accept: " + accept + b"\r\n\r\n")
    b0, b1 = read_exact(conn, 2)
    n = b1 & 0x7F
    if n == 126:
        n = int.from_bytes(read_exact(conn, 2), "big")
    mask = read_exact(conn, 4) if b1 & 0x80 else b"\0\0\0\0"
    payload = bytes(c ^ mask[i % 4] for i, c in enumerate(read_exact(conn, n)))
    text = payload.decode()
    if (b0 & 0x0F) != 1 or not text.startswith("RESUME "):
        raise ConnectionError(f"expected RESUME, got {text!r}")
    return int(text.split()[1])


class Ticks:
    """The seeded tick values; due times are assigned by the schedule."""

    def __init__(self, seed, base_id):
        self.rng = random.Random(seed)
        self.base_id = base_id
        self.price = (20_000 + self.rng.randrange(10_000)) * 10**8  # 1e-8 units

    def next(self, seq):
        self.price += self.rng.randint(-20, 20) * 500_000  # steps of 0.005
        qty = self.rng.randrange(1, 2 * 10**8)
        maker = self.rng.random() < 0.5
        fmt = lambda v: f"{v // 10**8}.{v % 10**8:08d}"
        return self.base_id + seq, fmt(self.price), fmt(qty), maker


def sleep_until(due_us):
    while True:
        left = due_us - now_us()
        if left <= 0:
            return
        time.sleep(min(left, 2000) / 1e6)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ctl", required=True)
    ap.add_argument("--log", required=True)
    for name in ("--warmup", "--cycles", "--live", "--backlog"):
        ap.add_argument(name, type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    a = ap.parse_args()

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    srv.settimeout(TIMEOUT_S)
    print(f"PORT {srv.getsockname()[1]}", flush=True)
    conn, _ = srv.accept()
    conn.settimeout(TIMEOUT_S)
    conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    seq = handshake(conn)
    if seq != 0:
        raise SystemExit(f"tickgen: client resumed at {seq}; only a fresh feed is served")

    ticks = Ticks(a.seed, BASE_ID)
    arrivals = random.Random(a.seed * 7919 + 1)
    log = []

    def tick(due_us, phase, cycle):
        nonlocal seq
        tid, price, qty, maker = ticks.next(seq)
        t_ms = due_us // 1000
        log.append([seq, tid, price, qty, t_ms, int(maker), due_us, 0, phase, cycle])
        seq += 1
        return frame(f"{tid}\tBTCUSDT\t{price}\t{qty}\t{t_ms}\t{int(maker)}")

    def burst(due_us, n, phase, cycle):
        data = b"".join(tick(due_us, phase, cycle) for _ in range(n))
        sleep_until(due_us)
        conn.sendall(data)
        sent = now_us()
        for row in log[-n:]:
            row[7] = sent

    burst(now_us(), a.warmup, 0, 0)
    deadline = time.time() + TIMEOUT_S
    for k in range(1, a.cycles + 1):
        go = os.path.join(a.ctl, f"go-{k}")
        while not os.path.exists(go):
            if time.time() > deadline:
                raise SystemExit(f"tickgen: no {go} within {TIMEOUT_S}s")
            time.sleep(0.001)
        due = now_us()
        for _ in range(a.live):
            due += max(1, int(arrivals.expovariate(a.rate) * 1e6))
            data = tick(due, 1, k)
            sleep_until(due)
            conn.sendall(data)
            log[-1][7] = now_us()
        burst(due + 100_000, a.backlog, 2, k)

    tmp = a.log + ".tmp"
    with open(tmp, "w") as f:
        f.write("seq,trade_id,price,qty,t_ms,maker,due_us,sent_us,phase,cycle\n")
        f.writelines(",".join(map(str, r)) + "\n" for r in log)
    os.replace(tmp, a.log)
    # serve until the client hangs up, so the engine never sees EOF mid-run
    try:
        while conn.recv(4096):
            pass
    except OSError:
        pass
    conn.close()
    srv.close()


if __name__ == "__main__":
    sys.exit(main())
