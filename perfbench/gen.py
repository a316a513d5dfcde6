"""Load generator: a minimal MQTT 3.1.1 broker peer on loopback that
publishes the workload's seeded messages to the subscribed client.

One process, one sending thread (the main thread), one connection at a
time. Commands arrive one per line on stdin; each gets one reply line on
stdout, `OK key=value ...`:

  SEND phase=<p> start=<i> count=<n> rate=<r>
      send messages [i, i+n) of the sequence; open loop at r msgs/s
      (due_k = t0 + k/r), or as fast as the socket takes them when r=0.
      Reply: t0, first, last (monotonic ns), sent, late_p99_ns, late_max_ns.
  CAPACITY count=<n>
      send n messages as fast as possible to a peer that discards them and
      reply with the standalone rate (msgs_per_s).
  QUIT

Usage: gen.py <workload> <seed> <count>
"""
import socket
import struct
import sys
import threading
import time

import bench

CONNACK = b"\x20\x02\x00\x00"
PINGRESP = b"\xd0\x00"


def read_packet(f):
    h = f.read(1)
    if not h:
        return None, None
    n, mult = 0, 1
    while True:
        b = f.read(1)[0]
        n += (b & 0x7F) * mult
        mult *= 128
        if not b & 0x80:
            break
    return h[0], f.read(n)


class Peer:
    """The broker side of one client connection."""

    def __init__(self, conn):
        self.conn = conn
        self.lock = threading.Lock()
        self.subscribed = threading.Event()
        threading.Thread(target=self.serve, daemon=True).start()

    def write(self, data):
        with self.lock:
            self.conn.sendall(data)

    def serve(self):
        f = self.conn.makefile("rb")
        try:
            while True:
                ptype, body = read_packet(f)
                if ptype is None:
                    return
                kind = ptype >> 4
                if kind == 1:  # CONNECT
                    self.write(CONNACK)
                elif kind == 8:  # SUBSCRIBE -> SUBACK, QoS 0 granted
                    self.write(b"\x90\x03" + body[:2] + b"\x00")
                    self.subscribed.set()
                elif kind == 12:  # PINGREQ
                    self.write(PINGRESP)
                elif kind == 14:  # DISCONNECT
                    return
        except (OSError, IndexError):
            return
        finally:
            try:
                self.conn.close()
            except OSError:
                pass


def send(peer, packets, rate):
    lates = []
    t0 = time.monotonic_ns() + 2_000_000
    first = None
    if rate <= 0:
        blob = b"".join(packets)
        first = time.monotonic_ns()
        peer.write(blob)
        last = time.monotonic_ns()
        return t0, first, last, [0]
    period = 1e9 / rate
    for k, pkt in enumerate(packets):
        due = t0 + int(k * period)
        now = time.monotonic_ns()
        if due - now > 200_000:
            time.sleep((due - now - 100_000) / 1e9)
        while time.monotonic_ns() < due:
            pass
        sent = time.monotonic_ns()
        peer.write(pkt)
        if first is None:
            first = sent
        lates.append(sent - due)
    return t0, first, time.monotonic_ns(), lates


def capacity(packets):
    """Standalone rate of the fast send path against a discarding peer."""
    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    out = socket.create_connection(srv.getsockname())
    inn, _ = srv.accept()

    def drain():
        while inn.recv(1 << 20):
            pass
    t = threading.Thread(target=drain, daemon=True)
    t.start()
    blob = b"".join(packets)
    t0 = time.monotonic_ns()
    out.sendall(blob)
    t1 = time.monotonic_ns()
    out.close()
    t.join()
    inn.close()
    srv.close()
    return len(packets) / ((t1 - t0) / 1e9)


def main():
    workload, seed, count = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    make = bench.steady_messages if workload == "steady_upsert_reads" else bench.burst_messages
    packets = [bench.publish_packet(t, v) for t, v in make(seed, count)]
    srv = socket.socket()
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(8)
    peers = []

    def accept():
        while True:
            try:
                conn, _ = srv.accept()
            except OSError:
                return
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            peers.append(Peer(conn))
    threading.Thread(target=accept, daemon=True).start()
    print(f"PORT {srv.getsockname()[1]}", flush=True)

    for line in sys.stdin:
        parts = line.split()
        if not parts:
            continue
        cmd, args = parts[0], dict(p.split("=", 1) for p in parts[1:])
        if cmd == "QUIT":
            break
        if cmd == "CAPACITY":
            rate = capacity(packets[: int(args["count"])])
            print(f"OK msgs_per_s={rate:.1f}", flush=True)
            continue
        if cmd != "SEND":
            print(f"ERR unknown command {cmd}", flush=True)
            continue
        deadline = time.monotonic() + 30
        while not (peers and peers[-1].subscribed.is_set()) and time.monotonic() < deadline:
            time.sleep(0.001)
        if not peers:
            print("ERR no subscriber", flush=True)
            continue
        start, n = int(args["start"]), int(args["count"])
        t0, first, last, lates = send(peers[-1], packets[start:start + n], float(args["rate"]))
        print(f"OK phase={args['phase']} t0={t0} first={first} last={last} sent={n} "
              f"late_p99_ns={bench.pctl(lates, 99)} late_max_ns={max(lates)}", flush=True)
    srv.close()


if __name__ == "__main__":
    main()
