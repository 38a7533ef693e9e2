"""Throwaway Postgres 15 cluster and the pg_stream load generator.

The cluster runs from the PG 15 binaries (`/usr/lib/postgresql/15/bin`,
or `$PG_BINDIR`) as the `postgres` OS user when started by root (the
server refuses to run as root), listens on 127.0.0.1 only, with
`wal_level=logical` and trust authentication for normal and replication
connections. Missing binaries are an error, never a skip.

The load generator is one process: up to `nproc` connections speaking
the Postgres simple-query protocol, sending TPC-B-like transactions on a
fixed open-loop schedule. Each transaction upserts an account row (large,
cold key space) and its branch row (small, hot) and writes its own id
into both, so its commit can be found in the change log.
"""
import os
import random
import shutil
import socket
import struct
import subprocess
import tempfile
import threading
import time

BINDIR = os.environ.get("PG_BINDIR", "/usr/lib/postgresql/15/bin")
ACCOUNTS = 1_000_000
BRANCHES = 16

SCHEMA = """
CREATE TABLE accounts (aid bigint PRIMARY KEY, bid int NOT NULL,
                       abalance bigint NOT NULL, txn bigint NOT NULL);
CREATE TABLE branches (bid int PRIMARY KEY, bbalance bigint NOT NULL,
                       txn bigint NOT NULL);
CREATE TABLE fence (id int PRIMARY KEY, v bigint NOT NULL);
CREATE PUBLICATION graftbench_pub FOR TABLE accounts, branches, fence;
"""


class PgError(Exception):
    pass


class Wire:
    """Minimal simple-query client (protocol 3.0, trust auth)."""

    def __init__(self, port, user="postgres", database="postgres"):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        body = struct.pack("!i", 196608) + b"".join(
            k.encode() + b"\0" + v.encode() + b"\0"
            for k, v in (("user", user), ("database", database))) + b"\0"
        self.sock.sendall(struct.pack("!i", len(body) + 4) + body)
        self._until_ready()

    def _read(self, n):
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise PgError("connection closed")
            buf += chunk
        return buf

    def _message(self):
        head = self._read(5)
        return chr(head[0]), self._read(struct.unpack("!i", head[1:])[0] - 4)

    def _until_ready(self):
        rows, err = [], None
        while True:
            t, body = self._message()
            if t == "R" and struct.unpack("!i", body[:4])[0] != 0:
                raise PgError("server asked for a password; trust auth expected")
            if t == "E":
                fields = dict((f[:1], f[1:]) for f in body.split(b"\0") if f)
                err = fields.get(b"M", b"?").decode()
            elif t == "D":
                n = struct.unpack("!h", body[:2])[0]
                pos, row = 2, []
                for _ in range(n):
                    ln = struct.unpack("!i", body[pos:pos + 4])[0]
                    pos += 4
                    row.append(None if ln < 0 else body[pos:pos + ln].decode())
                    pos += max(ln, 0)
                rows.append(row)
            elif t == "Z":
                return rows, err

    def query(self, sql):
        """(rows, error message or None)."""
        body = sql.encode() + b"\0"
        self.sock.sendall(b"Q" + struct.pack("!i", len(body) + 4) + body)
        return self._until_ready()

    def close(self):
        try:
            self.sock.sendall(b"X" + struct.pack("!i", 4))
        except OSError:
            pass
        self.sock.close()


def _free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Cluster:
    """initdb + start + schema; `stop()` tears everything down."""

    def __init__(self, parent):
        for b in ("initdb", "pg_ctl", "postgres"):
            if not os.access(os.path.join(BINDIR, b), os.X_OK):
                raise PgError(f"PostgreSQL 15 binary {b} not found in {BINDIR}; "
                              "pg_stream needs it (set PG_BINDIR)")
        self.as_root = os.geteuid() == 0
        self.dir = self._data_parent(parent)
        self.data = os.path.join(self.dir, "data")
        self.port = _free_port()
        self.started = False

    def _data_parent(self, parent):
        # the server user must reach the data directory; under a root-only
        # parent (mode 0700) it cannot, so fall back to the system temp dir
        os.makedirs(parent, exist_ok=True)
        d = tempfile.mkdtemp(prefix="pg-", dir=parent)
        if self.as_root:
            shutil.chown(d, "postgres")
            ok = subprocess.run(["runuser", "-u", "postgres", "--", "test", "-w", d],
                                cwd="/").returncode == 0
            if not ok:
                os.rmdir(d)
                d = tempfile.mkdtemp(prefix="graftbench-pg-")
                shutil.chown(d, "postgres")
        return d

    def _run(self, *cmd):
        full = (["runuser", "-u", "postgres", "--"] if self.as_root else []) + list(cmd)
        p = subprocess.run(full, cwd=self.dir, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            raise PgError(f"{os.path.basename(cmd[0])} failed: {p.stdout[-2000:]}")

    def start(self):
        self._run(os.path.join(BINDIR, "initdb"), "-D", self.data, "-U", "postgres",
                  "-A", "trust", "-N", "-E", "UTF8", "--locale=C")
        with open(os.path.join(self.data, "postgresql.conf"), "a") as f:
            f.write(f"""
listen_addresses = '127.0.0.1'
port = {self.port}
unix_socket_directories = ''
wal_level = logical
max_wal_senders = 8
max_replication_slots = 8
fsync = off
full_page_writes = off
shared_buffers = 64MB
""")
        with open(os.path.join(self.data, "pg_hba.conf"), "w") as f:
            f.write("host all all 127.0.0.1/32 trust\n"
                    "host replication all 127.0.0.1/32 trust\n")
        self._run(os.path.join(BINDIR, "pg_ctl"), "-D", self.data, "-l",
                  os.path.join(self.data, "server.log"), "-w", "-t", "60", "start")
        self.started = True
        c = Wire(self.port)
        try:
            _, err = c.query(SCHEMA)
            if err:
                raise PgError(f"schema: {err}")
        finally:
            c.close()

    def stop(self):
        if self.started:
            try:
                self._run(os.path.join(BINDIR, "pg_ctl"), "-D", self.data,
                          "-m", "immediate", "-w", "stop")
            except PgError:
                pass
            self.started = False
        shutil.rmtree(self.dir, ignore_errors=True)


def txn_sql(i, aid, bid, delta):
    return (f"BEGIN;"
            f"INSERT INTO accounts VALUES ({aid},{bid},{delta},{i}) ON CONFLICT (aid) "
            f"DO UPDATE SET bid = EXCLUDED.bid, "
            f"abalance = accounts.abalance + EXCLUDED.abalance, txn = EXCLUDED.txn;"
            f"INSERT INTO branches VALUES ({bid},{delta},{i}) ON CONFLICT (bid) "
            f"DO UPDATE SET bbalance = branches.bbalance + EXCLUDED.bbalance, "
            f"txn = EXCLUDED.txn;"
            f"COMMIT;")


def run_load(port, seed, rate, seconds, conns, out_path):
    """Open loop: transaction i is due at start + i/rate, whichever
    connection is free takes it; lateness is measured from that due
    time. Writes `txn scheduled sent done ok` (CLOCK_MONOTONIC ns) per
    transaction and returns (sent, failed)."""
    rng = random.Random(seed)
    n = max(1, int(rate * seconds))
    plan = [(rng.randrange(1, ACCOUNTS + 1), rng.randrange(1, BRANCHES + 1),
             rng.randrange(-5000, 5001)) for _ in range(n)]
    wires = [Wire(port) for _ in range(conns)]
    recs = [None] * n
    lock = threading.Lock()
    nxt = [0]
    start = time.monotonic_ns() + 20_000_000
    step = 1e9 / rate

    def worker(w):
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= n:
                return
            due = start + int(i * step)
            wait = due - time.monotonic_ns()
            if wait > 0:
                time.sleep(wait / 1e9)
            sent = time.monotonic_ns()
            aid, bid, delta = plan[i]
            try:
                _, err = w.query(txn_sql(i, aid, bid, delta))
            except (OSError, PgError) as e:
                err = str(e)
            recs[i] = (i, due, sent, time.monotonic_ns(), 0 if err else 1)

    threads = [threading.Thread(target=worker, args=(w,), daemon=True) for w in wires]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for w in wires:
        w.close()
    with open(out_path, "w") as f:
        for r in recs:
            f.write(" ".join(map(str, r)) + "\n")
    return n, sum(1 for r in recs if r[4] == 0)


def write_fence(port, nonce):
    """One transaction committed after every generated one."""
    c = Wire(port)
    try:
        _, err = c.query(f"INSERT INTO fence VALUES (1, {nonce}) ON CONFLICT (id) "
                         f"DO UPDATE SET v = EXCLUDED.v")
        if err:
            raise PgError(f"fence: {err}")
    finally:
        c.close()
