"""Live-HTTP side of the benchmark: the shipped server as a subprocess, a
keep-alive client per connection, body codecs and answer checks."""
import gzip
import http.client
import json
import math
import socket
import subprocess
import time
import urllib.parse

import jvmproc
from workload import TYPES_HEADER


# --- LZ4 block framing as the server speaks it (python lz4.block default:
# 4-byte little-endian decoded size, then one raw LZ4 block) -------------

def lz4_encode(data):
    """A valid LZ4 block holding the body as one literal run. It exercises
    the server's size-prefix and block decode, not match copying."""
    n = len(data)
    out = bytearray(n.to_bytes(4, "little"))
    if n < 15:
        out.append(n << 4)
    else:
        out.append(0xF0)
        rest = n - 15
        while rest >= 255:
            out.append(255)
            rest -= 255
        out.append(rest)
    out += data
    return bytes(out)


def lz4_decode(src):
    size = int.from_bytes(src[:4], "little")
    out, i, n = bytearray(), 4, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        out += src[i:i + lit]
        i += lit
        if i >= n:
            break
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        length = token & 15
        if length == 15:
            while True:
                b = src[i]
                i += 1
                length += b
                if b != 255:
                    break
        length += 4
        start = len(out) - offset
        while length > 0:                 # overlapping copies repeat
            chunk = out[start:start + min(offset, length)]
            out += chunk
            start += len(chunk)
            length -= len(chunk)
    if len(out) != size:
        raise ValueError("lz4 size mismatch")
    return bytes(out)


def encode(body, enc):
    if enc == "gzip":
        return gzip.compress(body, 1)
    if enc == "lz4":
        return lz4_encode(body)
    return body


def decode(body, enc):
    if enc == "gzip":
        return gzip.decompress(body)
    if enc == "lz4":
        return lz4_decode(body)
    return body


# --- answer check -----------------------------------------------------------

REL_TOL = 1e-9          # float tolerance: relative ...
ABS_TOL = 1e-9          # ... or absolute, whichever is looser


def matches(expect, records):
    """Row-for-row comparison of a JSON response with the expected answer,
    in order; numbers within REL_TOL/ABS_TOL."""
    cols, want = expect["columns"], expect["rows"]
    if not isinstance(records, list) or len(records) != len(want):
        return False
    try:
        got = [[rec[c] for c in cols] for rec in records]
    except (KeyError, TypeError):
        return False
    if records and len(records[0]) != len(cols):
        return False
    if got == want:
        return True
    for g_row, w_row in zip(got, want):
        for g, w in zip(g_row, w_row):
            if g == w:
                continue
            if isinstance(g, (int, float)) and isinstance(w, (int, float)) \
                    and not isinstance(g, bool) and \
                    math.isclose(g, w, rel_tol=REL_TOL, abs_tol=ABS_TOL):
                continue
            return False
    return True


# --- server + client ----------------------------------------------------------

def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Server:
    """graft.server.Main as a child process."""

    def __init__(self, classpath, size_bytes):
        self.port = free_port()
        self.log = open(f"{jvmproc.WORK}/server.log", "w")
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(
            jvmproc.java_cmd(classpath, "graft.server.Main",
                             [f"--port={self.port}", f"--size={size_bytes}"]),
            cwd=jvmproc.run_dir(), env=jvmproc.jvm_env(),
            stdin=subprocess.DEVNULL, stdout=self.log, stderr=subprocess.STDOUT)

    def wait_ready(self, timeout=120):
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError("server exited during start-up")
            try:
                c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=2)
                c.request("GET", "/qcache/status")
                ok = c.getresponse().status == 200
                c.close()
                if ok:
                    return
            except OSError:
                pass
            time.sleep(0.05)
        raise RuntimeError("server did not become ready")

    def statistics(self):
        c = Client(self.port)
        status, _, data, _, _ = c.call("GET", "/qcache/statistics")
        c.close()
        if status != 200:
            raise RuntimeError(f"statistics returned {status}")
        return json.loads(data)

    def stop(self):
        jvmproc.stop(self.proc)
        self.log.close()


class Client:
    """One keep-alive connection."""

    def __init__(self, port):
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def call(self, method, path, body=None, headers=None):
        """Returns (status, content-encoding, body, t_send, t_done)."""
        t0 = time.perf_counter()
        try:
            self.conn.request(method, path, body=body, headers=headers or {})
            resp = self.conn.getresponse()
            data = resp.read()
        except (OSError, http.client.HTTPException):
            self.conn.close()
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                                   timeout=170)
            return -1, None, b"", t0, time.perf_counter()
        return (resp.status, resp.getheader("Content-Encoding"), data, t0,
                time.perf_counter())

    def store(self, key, body, fmt, enc):
        headers = {"Content-Type": "text/csv" if fmt == "csv"
                   else "application/json"}
        if fmt == "csv":
            headers["X-QCache-types"] = TYPES_HEADER
        if enc:
            headers["Content-Encoding"] = enc
        return self.call("POST", f"/qcache/dataset/{key}", encode(body, enc),
                         headers)

    def query(self, key, text, enc=None):
        headers = {"Accept": "application/json"}
        if enc:
            headers["Accept-Encoding"] = enc
        path = f"/qcache/dataset/{key}?q=" + urllib.parse.quote(text, safe="")
        return self.call("GET", path, None, headers)

    def update(self, key, text):
        return self.call("POST", f"/qcache/dataset/{key}/q", text.encode(),
                         {"Content-Type": "application/json"})

    def delete(self, key):
        return self.call("DELETE", f"/qcache/dataset/{key}")

    def close(self):
        self.conn.close()


def check_query(expect, status, enc, data):
    """Whether a query response is a 200 carrying the expected rows, as
    (ok, records, decoded body bytes)."""
    if status != 200:
        return False, None, 0
    try:
        body = decode(data, enc)
        records = json.loads(body)
    except (ValueError, OSError, IndexError):
        return False, None, 0
    return matches(expect, records), records, len(body)
