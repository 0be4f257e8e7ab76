"""Seeded Laghos-schema objects and the Range-honouring HTTP object server
the runner workload reads them from.

A small pool of parquet files is generated from the seed; each served
object name maps onto one pool file plus a `vertex_id` offset, so every
name is a distinct object to the program (disjoint `vertex_id` range,
its own bytes on the wire) while only the pool is generated and held.

The offset is applied to the served bytes: the `vertex_id` column is
written PLAIN, uncompressed, without statistics and as one data page per
column chunk, so its values are the last `4 * rows` bytes of each chunk
and can be rewritten in place for any requested byte range.
"""
import bisect
import contextlib
import os
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The flagship query keeps rows with x, y and z inside this open interval.
LO, HI = 1.5, 1.6
READ_COLS = ("vertex_id", "x", "y", "z", "e")


def make_pool_file(path, rng, rows, row_groups):
    """Write one pool file and return its layout (see `PoolFile`).

    Rows are ordered on x, with x drawn from a range a few windows wide,
    so min/max statistics exclude most row groups but not all. A planted
    vertex with four hit rows guarantees at least one result row."""
    x = np.sort(rng.uniform(1.2, 1.9, rows))
    y = rng.uniform(1.0, 2.0, rows)
    z = rng.uniform(1.0, 2.0, rows)
    e = rng.uniform(0.0, 100.0, rows)
    vid = rng.permutation(rows).astype(np.int32)
    # planted hits: one vertex id repeated on four rows inside the window
    inside = np.nonzero((x > LO) & (x < HI))[0]
    planted = rng.choice(inside, 4, replace=False)
    y[planted] = rng.uniform(LO + 0.01, HI - 0.01, 4)
    z[planted] = rng.uniform(LO + 0.01, HI - 0.01, 4)
    vid[planted] = vid[planted[0]]
    table = pa.table({
        "vertex_id": pa.array(vid, pa.int32()),
        "x": x, "y": y, "z": z, "e": e,
        "rho": rng.uniform(0.5, 2.0, rows),
        "p": rng.normal(0.0, 1.0, rows),
        "material": pa.array(rng.integers(0, 8, rows), pa.int32()),
    }, schema=pa.schema([
        pa.field("vertex_id", pa.int32(), nullable=False),
        ("x", pa.float64()), ("y", pa.float64()), ("z", pa.float64()),
        ("e", pa.float64()), ("rho", pa.float64()), ("p", pa.float64()),
        ("material", pa.int32())]))
    others = [c for c in table.column_names if c != "vertex_id"]
    pq.write_table(
        table, path, row_group_size=-(-rows // row_groups),
        compression={c: ("NONE" if c == "vertex_id" else "SNAPPY")
                     for c in table.column_names},
        use_dictionary=others, write_statistics=others,
        column_encoding={"vertex_id": "PLAIN"},
        data_page_size=1 << 30, data_page_version="1.0")
    return PoolFile(path)


class PoolFile:
    """A pool file held in memory with the byte layout the server and the
    per-layer metrics need."""

    def __init__(self, path):
        self.path = path
        with open(path, "rb") as f:
            self.data = f.read()
        meta = pq.ParquetFile(path).metadata
        self.size = len(self.data)
        footer_len = int.from_bytes(self.data[-8:-4], "little")
        self.footer_start = self.size - 8 - footer_len
        names = [meta.schema.column(i).name for i in range(meta.num_columns)]
        vcol = names.index("vertex_id")
        # (start, end) byte span of each row group's vertex_id values
        self.vid_spans = []
        self.needed_bytes = 0
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            ch = rg.column(vcol)
            end = ch.data_page_offset + ch.total_compressed_size
            self.vid_spans.append((end - 4 * rg.num_rows, end))
            stats = {n: rg.column(i).statistics for i, n in enumerate(names)}
            excluded = any(stats[c] is not None and stats[c].has_min_max and
                           (stats[c].max <= LO or stats[c].min >= HI)
                           for c in ("x", "y", "z"))
            if not excluded:
                self.needed_bytes += sum(
                    rg.column(names.index(c)).total_compressed_size
                    for c in READ_COLS)
        self._check_vid_layout(path)

    def _check_vid_layout(self, path):
        vid = pq.read_table(path, columns=["vertex_id"]).column(0)
        vid = vid.to_numpy()
        got = np.concatenate([np.frombuffer(self.data[s:e], "<i4")
                              for s, e in self.vid_spans])
        if not np.array_equal(got, vid):
            raise RuntimeError(f"{path}: vertex_id is not laid out as "
                               "one PLAIN page per chunk")

    def read(self, start, end, delta):
        """Bytes [start, end) with `delta` added to every vertex_id."""
        out = bytearray(self.data[start:end])
        if delta:
            for s, e in self.vid_spans:
                lo, hi = max(s, start), min(e, end)
                if lo >= hi:
                    continue
                a = s + (lo - s) // 4 * 4          # whole values covering
                b = s + -(-(hi - s) // 4) * 4      # [lo, hi)
                vals = np.frombuffer(self.data[a:b], "<i4") + np.int32(delta)
                raw = vals.astype("<i4").tobytes()
                out[lo - start:hi - start] = raw[lo - a:hi - a]
        return bytes(out)


class ObjectStore:
    """Named objects over a pool: `objects[name] = (pool_file, delta)`.

    Every request is logged as (name, method, t_start, t_end, first_byte,
    last_byte, bytes_sent, status) with `time.monotonic()` stamps."""

    def __init__(self):
        self.objects = {}
        self.log = []
        self.on_first_request = None   # called once, before the first entry
        self._lock = threading.Lock()
        self._idle = threading.Condition()
        self._active = 0
        self._server = None
        self._thread = None

    def add(self, name, pool_file, delta):
        self.objects[name] = (pool_file, delta)

    @contextlib.contextmanager
    def serving(self):
        """Held by a handler for the whole of one request."""
        with self._idle:
            self._active += 1
        try:
            yield
        finally:
            with self._idle:
                self._active -= 1
                self._idle.notify_all()

    def wait_idle(self, timeout=10.0):
        """Wait until every request has been answered and logged: a client
        can finish reading a response before its handler logs it."""
        with self._idle:
            self._idle.wait_for(lambda: self._active == 0, timeout)

    def record(self, entry):
        with self._lock:
            if not self.log and self.on_first_request:
                self.on_first_request()
            self.log.append(entry)

    def start(self):
        store = self

        class Handler(RangeHandler):
            pass
        Handler.store = store
        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        name="objstore", daemon=True)
        self._thread.start()
        return self._server.server_address[1]

    def stop(self):
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join()
            self._server = None


def parse_range(header, size):
    """(first, last) inclusive for a single `bytes=` range, None when the
    header is absent, or "unsatisfiable"."""
    if header is None:
        return None
    unit, _, spec = header.partition("=")
    if unit.strip() != "bytes" or "," in spec:
        return None
    first, _, last = spec.strip().partition("-")
    try:
        if first == "":                      # suffix range: last N bytes
            n = int(last)
            if n <= 0:
                return "unsatisfiable"
            return max(size - n, 0), size - 1
        a = int(first)
        b = int(last) if last else size - 1
    except ValueError:
        return None
    if a >= size or b < a:
        return "unsatisfiable"
    return a, min(b, size - 1)


class RangeHandler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    store = None

    def log_message(self, fmt, *args):
        pass

    def _lookup(self):
        name = self.path.lstrip("/")
        obj = self.store.objects.get(name)
        if obj is None:
            self.send_response(404)
            self.send_header("Content-Length", "0")
            self.end_headers()
        return name, obj

    def do_HEAD(self):
        with self.store.serving():
            self._head()

    def do_GET(self):
        with self.store.serving():
            self._get()

    def _head(self):
        t0 = time.monotonic()
        name, obj = self._lookup()
        if obj is None:
            return
        self.send_response(200)
        self.send_header("Content-Length", str(obj[0].size))
        self.send_header("Accept-Ranges", "bytes")
        self.end_headers()
        self.store.record((name, "HEAD", t0, time.monotonic(), 0, -1, 0, 200))

    def _get(self):
        t0 = time.monotonic()
        name, obj = self._lookup()
        if obj is None:
            return
        pool, delta = obj
        rng = parse_range(self.headers.get("Range"), pool.size)
        if rng == "unsatisfiable":
            self.send_response(416)
            self.send_header("Content-Range", f"bytes */{pool.size}")
            self.send_header("Content-Length", "0")
            self.end_headers()
            self.store.record((name, "GET", t0, time.monotonic(), 0, -1, 0,
                               416))
            return
        first, last = rng if rng else (0, pool.size - 1)
        body = pool.read(first, last + 1, delta)
        status = 206 if rng else 200
        self.send_response(status)
        if rng:
            self.send_header("Content-Range",
                             f"bytes {first}-{last}/{pool.size}")
        self.send_header("Content-Length", str(len(body)))
        self.send_header("Accept-Ranges", "bytes")
        self.end_headers()
        sent = 0
        try:
            view = memoryview(body)
            while sent < len(body):
                n = self.wfile.write(view[sent:sent + (1 << 16)])
                sent += n
        except (BrokenPipeError, ConnectionResetError):
            pass   # the client closed early; count what was sent
        self.store.record((name, "GET", t0, time.monotonic(), first, last,
                           sent, status))


def attribute_chunks(lines, ranges):
    """Split runner stdout into result chunks and attribute each to the
    object whose vertex_id range holds its VID values.

    `lines` is an iterable of (t, text); `ranges` maps object name to
    (lo, hi) inclusive. Returns a list of (name, t_last_line, rows) where
    rows are (VID, X, Y, Z, E) tuples. A chunk whose VIDs span several
    objects or none raises ValueError."""
    starts = sorted((lo, hi, name) for name, (lo, hi) in ranges.items())
    keys = [s[0] for s in starts]

    def owner(v):
        i = bisect.bisect_right(keys, v) - 1
        if i < 0 or v > starts[i][1]:
            raise ValueError(f"VID {v} belongs to no object")
        return starts[i][2]

    chunks = []
    it = iter(lines)
    for t, text in it:
        if not text.startswith("Chunk - ["):
            continue
        ncols = int(text[len("Chunk - ["):].split()[0])
        cols, t_end = [], t
        for _ in range(ncols):
            t_end, col = next(it)
            _, _, vals = col.partition(" = [ ")
            cols.append([v.strip() for v in vals.rstrip("]\n ").split(",")
                         if v.strip()])
        rows = [(int(v), float(x), float(y), float(z), float(e))
                for v, x, y, z, e in zip(*cols)]
        names = {owner(r[0]) for r in rows}
        if len(names) != 1:
            raise ValueError(f"chunk spans objects {sorted(names)}")
        chunks.append((names.pop(), t_end, rows))
    return chunks
