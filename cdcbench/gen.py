"""Load generator: a MaxScale CDC endpoint that replays a history file.

Runs as its own process.  It speaks the avrorouter wire protocol the
program's SocketTransport dials: it checks the auth blob
hex(user ":" sha1(password)), answers `REGISTER UUID=..., TYPE=JSON`
and `REQUEST-DATA bench.events` with OK, then sends the schema line and
the DML lines of the history, pre-rendered, and holds the socket open
like a binlog tail until the client closes it.  Connections are served
one after another.

The registration UUID says what to send on that connection:
`cdcbench-<mode>-<lines>-<tag>` serves the first <lines> DML lines,
either all at once (mode `blast`: the backlog is in the binlog before
the consumer reads; the DML lines follow the schema line after
HOLD_S, so the consumer's first read after REQUEST-DATA finds at most
the schema line) or open loop at --rate lines per second (mode
`rate`: line i is due at t0 + i / rate, whatever the consumer does; t0
is half of --align-ms past a whole multiple of it on the wall clock).
After the last line it writes stats/<tag>.json: t0 (epoch ns of the
first DML line's due time), lines sent and how late the sends ran.

    python3 gen.py --history H --port-file P --stats-dir D \
        --user U --password W [--rate R --align-ms A]
"""
import argparse
import hashlib
import json
import os
import socket
import sys
import time

# the pause between the schema line and a blast's DML lines
HOLD_S = 0.05


def auth_blob(user, password):
    sha1 = hashlib.sha1(password.encode()).digest()
    return (user.encode() + b":" + sha1).hex()


def read_until(conn, buf, done):
    """Read until done(buf) holds; commands carry no terminator, so each
    is recognised by its known shape."""
    while not done(buf):
        chunk = conn.recv(4096)
        if not chunk:
            raise ConnectionError("client closed during handshake")
        buf += chunk
    return buf


def handshake(conn, expected_auth, table):
    text = read_until(conn, b"", lambda b: len(b) >= len(expected_auth))
    if text.decode(errors="replace") != expected_auth:
        conn.sendall(b"ERR access denied\n")
        return None
    conn.sendall(b"OK\n")
    reg = read_until(conn, b"", lambda b: b.endswith(b", TYPE=JSON")).decode()
    if not reg.startswith("REGISTER UUID="):
        conn.sendall(b"ERR invalid registration message\n")
        return None
    conn.sendall(b"OK\n")
    uuid = reg[len("REGISTER UUID="):-len(", TYPE=JSON")]
    want = f"REQUEST-DATA {table}".encode()
    req = read_until(conn, b"", lambda b: len(b) >= len(want))
    if req != want:
        conn.sendall(f"ERR NO-SUCH-TABLE {table}\n".encode())
        return None
    return uuid


def percentile(sorted_values, q):
    if not sorted_values:
        return 0.0
    return sorted_values[min(len(sorted_values) - 1,
                             int(q * len(sorted_values)))]


def serve(conn, schema, dml, mode, n, rate, align_ms):
    conn.sendall(schema)
    late_ms = []
    if mode == "blast":
        backlog = b"".join(dml[:n])
        time.sleep(HOLD_S)
        t0 = time.time_ns()
        conn.sendall(backlog)
    else:
        # start half an interval past a whole multiple of the consumer's
        # trigger interval, which Spark fires on wall-clock multiples:
        # every pass then has the same batch boundaries
        step = align_ms * 1_000_000
        t0 = (time.time_ns() // step + 1) * step + step // 2
        period = 1e9 / rate
        i = 0
        while i < n:
            now = time.time_ns()
            j = i
            while j < n and t0 + j * period <= now:
                j += 1
            if j > i:
                conn.sendall(b"".join(dml[i:j]))
                sent = time.time_ns()
                late_ms.extend((sent - (t0 + k * period)) / 1e6
                               for k in range(i, j))
                i = j
            else:
                time.sleep(max(0.0, (t0 + i * period - now) / 1e9))
    end = time.time_ns()
    late_ms.sort()
    return {"t0_ns": t0, "end_ns": end, "lines_sent": n, "mode": mode,
            "rate": rate if mode == "rate" else None,
            "late_p99_ms": percentile(late_ms, 0.99)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--history", required=True)
    ap.add_argument("--port-file", required=True)
    ap.add_argument("--stats-dir", required=True)
    ap.add_argument("--user", required=True)
    ap.add_argument("--password", required=True)
    ap.add_argument("--rate", type=float, default=0.0)
    ap.add_argument("--align-ms", type=int, default=1000)
    a = ap.parse_args()

    with open(a.history, "rb") as f:
        lines = f.read().splitlines(keepends=True)
    schema, dml = lines[0], lines[1:]
    table = json.loads(schema)
    table = f"{table['database']}.{table['table']}"
    expected_auth = auth_blob(a.user, a.password)

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    tmp = a.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(srv.getsockname()[1]))
    os.replace(tmp, a.port_file)

    while True:
        conn, _ = srv.accept()
        with conn:
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            try:
                uuid = handshake(conn, expected_auth, table)
                if uuid is None:
                    continue
                _, mode, n, tag = uuid.split("-", 3)
                n = int(n)
                if n > len(dml) or mode not in ("blast", "rate") or \
                        (mode == "rate" and a.rate <= 0):
                    conn.sendall(b"ERR bad request\n")
                    continue
                stats = serve(conn, schema, dml, mode, n, a.rate, a.align_ms)
                stats["tag"] = tag
                out = os.path.join(a.stats_dir, tag + ".json")
                with open(out + ".tmp", "w") as f:
                    json.dump(stats, f)
                os.replace(out + ".tmp", out)
                while conn.recv(65536):
                    pass
            except (ConnectionError, OSError, ValueError) as e:
                print(f"gen: connection ended: {e}", file=sys.stderr)


if __name__ == "__main__":
    main()
