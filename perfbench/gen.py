"""Seeded input generation for the benchmark workloads.

Everything the program reads is made here from the run's seed: log
backlogs and warm-up files, the open-loop line stream, and the catalog's
TPC-H-style tables. The same seed gives the same inputs (the open-loop
stream's content is seeded; only its wall-clock due stamps differ).
"""
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = ("request served upstream cache miss hit user session token refresh "
          "worker pool queue depth latency retry backoff shard stream record "
          "batch flush commit offset partition checkpoint disk usage memory "
          "heap gc pause socket timeout connection reset peer handshake tls "
          "route handler status ok created accepted bad gateway unavailable "
          "tenant org space app instance container health probe ready").split()
_FRAMES = ["com.example.router.Dispatcher.route", "com.example.router.Handler.handle",
           "com.example.store.ShardClient.put", "com.example.store.Retry.call",
           "io.netty.channel.AbstractChannelHandlerContext.invokeChannelRead",
           "java.base/java.util.concurrent.ThreadPoolExecutor.runWorker",
           "java.base/java.lang.Thread.run", "com.example.codec.Frame.decode"]
_LEVELS = np.array(["INFO", "INFO", "INFO", "INFO", "DEBUG", "WARN", "ERROR"])

STACK_SHARE = 0.01  # share of lines that are multi-KB stack traces
WARMUP_LINES = 2000  # lines per set-up stand-up of the forwarder
# Untimed lead-in of each open-loop window: the schedule runs this long
# before the measured --seconds, which cover the lines due last. Over its
# first ~6 s a fresh forwarder's p50 ran 20-30% above the rest.
LEAD_IN_S = 5


def zipf_weights(n, s):
    """Zipf(s) weights over n items in rank order: item 0 is the hottest.
    The skew's shape is fixed; the seed only draws which file each line
    lands in."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class LineMaker:
    """Log lines with a mixed length: mostly 100-200 B, plus a seeded share
    of multi-KB single-line stack traces. Bodies are slices of seeded text
    blobs, so making a line costs one slice and one format."""

    def __init__(self, rng):
        words = rng.choice(_WORDS, size=40000)
        self.text = " ".join(words)
        frames = rng.choice(_FRAMES, size=4000)
        self.stack = "java.lang.IllegalStateException: shard write rejected " + " ".join(
            f"at {f}({f.rsplit('.', 1)[-1].capitalize()}.java:{n})"
            for f, n in zip(frames, rng.integers(10, 900, size=len(frames))))

    def bodies(self, rng, n):
        """(level, body) arrays for n lines."""
        stack = rng.random(n) < STACK_SHARE
        length = np.where(stack, rng.integers(1000, 4000, n), rng.integers(70, 170, n))
        src_len = np.where(stack, len(self.stack), len(self.text))
        start = (rng.random(n) * (src_len - length)).astype(np.int64)
        levels = _LEVELS[rng.integers(0, len(_LEVELS), n)]
        text, st = self.text, self.stack
        out = [(st if s else text)[a:a + ln] for s, a, ln in
               zip(stack.tolist(), start.tolist(), length.tolist())]
        return levels.tolist(), out


def write_backlog(root, seed, lines, files, zipf_s, tag):
    """A backlog of `lines` lines over `files` .log files, Zipf-skewed.
    Line = '<stamp> f<file> <seq> <LEVEL> <body>'. Returns the line count."""
    rng = np.random.default_rng([seed, hash_tag(tag)])
    os.makedirs(root, exist_ok=True)
    maker = LineMaker(rng)
    fid = rng.choice(files, size=lines, p=zipf_weights(files, zipf_s))
    levels, bodies = maker.bodies(rng, lines)
    per_file = [[] for _ in range(files)]
    stamp0 = 1_700_000_000_000_000
    for j, (f, lvl, body) in enumerate(zip(fid.tolist(), levels, bodies)):
        seq = len(per_file[f])
        per_file[f].append(f"{stamp0 + j * 50} f{f:02d} {seq:09d} {lvl} {body}")
    for f in range(files):
        with open(os.path.join(root, f"svc-{f:02d}.log"), "w") as out:
            if per_file[f]:
                out.write("\n".join(per_file[f]))
                out.write("\n")
            _sync(out)
    return lines


def _sync(f):
    """Writes a file's data back to disk now, so background writeback of
    the inputs does not run while the program is being timed."""
    f.flush()
    os.fsync(f.fileno())


def hash_tag(tag):
    return sum((i + 1) * ord(c) for i, c in enumerate(tag))


def steady_files(root, files):
    """The open loop's files exist, empty, before the forwarder starts."""
    os.makedirs(root, exist_ok=True)
    for f in range(files):
        open(os.path.join(root, f"svc-{f:02d}.log"), "w").close()


def run_open_loop(root, seed, window, rate, seconds, files, zipf_s):
    """Appends rate x seconds lines on a fixed schedule: line j is due at
    start + j / rate and is stamped with that due time (epoch us). The
    schedule never waits for the system; when the generator itself runs
    late it writes everything due at once. Returns (lines, lateness in ms
    per line as an ascending numpy array)."""
    rng = np.random.default_rng([seed, 1000 + window])
    maker = LineMaker(rng)
    total = int(rate * seconds)
    fid = rng.choice(files, size=total, p=zipf_weights(files, zipf_s)).tolist()
    levels, bodies = maker.bodies(rng, total)
    seqs = [0] * files
    handles = [open(os.path.join(root, f"svc-{f:02d}.log"), "ab", buffering=0)
               for f in range(files)]
    late = np.empty(total)
    start_us = time.time_ns() // 1000 + 2000
    step = 1e6 / rate
    i = 0
    try:
        while i < total:
            now_us = time.time_ns() // 1000
            due_n = min(total, int((now_us - start_us) / step) + 1)
            if due_n <= i:
                time.sleep(max(0.0, (start_us + i * step - now_us) / 1e6))
                continue
            batch = {}
            for j in range(i, due_n):
                f = fid[j]
                due = start_us + int(j * step)
                batch.setdefault(f, []).append(
                    f"{due} f{f:02d} {seqs[f]:09d} {levels[j]} {bodies[j]}\n")
                seqs[f] += 1
            for f, ls in batch.items():
                handles[f].write("".join(ls).encode())
            written_us = time.time_ns() // 1000
            for j in range(i, due_n):
                late[j] = (written_us - (start_us + int(j * step))) / 1000.0
            i = due_n
    finally:
        for h in handles:
            h.close()
    late.sort()
    return total, late


# ---- catalog tables -------------------------------------------------------

# Row counts of one slice: the sf0.1 shape of the repo's TPC-H-style tables.
SLICE = {"customer": 15000, "supplier": 1000, "part": 20000,
         "orders": 150000, "lineitem": 600000, "events": 100000}
_USERS = 1500  # events users per slice, as in sf0.1
_EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "shiny"]
_NOUN = ["ring", "bolt", "nut", "gear", "spring", "pipe", "valve", "chain"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = ["region", "nation", *SLICE]


def _money(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng, first, span, n):
    base = np.datetime64(first, "us")
    return pa.array(base + rng.integers(0, span, n).astype("timedelta64[D]"),
                    type=pa.timestamp("us"))


def _slice(rng, s, frac):
    """Slice s: every key offset by s slice sizes, so joins stay inside
    the slice and slices never collide. `frac` shrinks the slice (the
    warm-up tables)."""
    n = {k: max(1, int(v * frac)) for k, v in SLICE.items()}
    off = {k: s * v for k, v in n.items()}
    ck = off["customer"] + np.arange(n["customer"])
    sk = off["supplier"] + np.arange(n["supplier"])
    pk = off["part"] + np.arange(n["part"])
    ok = off["orders"] + np.arange(n["orders"])
    nl = n["lineitem"]
    ne = n["events"]
    users = max(1, int(_USERS * frac))
    return {
        "customer": {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in ck.tolist()]),
            "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(ck))),
            "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, len(ck))])},
        "supplier": {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in sk.tolist()]),
            "s_nationkey": pa.array(rng.integers(0, 25, len(sk)), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(sk)))},
        "part": {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(
                rng.integers(0, 8, len(pk)).tolist(), rng.integers(0, 8, len(pk)).tolist())]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, len(pk)).tolist()]),
            "p_type": pa.array(_TYPES[rng.integers(0, 6, len(pk))]),
            "p_size": pa.array(rng.integers(1, 51, len(pk)), pa.int32()),
            "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0)},
        "orders": {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(rng.choice(ck, len(ok)), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, len(ok))]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, len(ok))),
            "o_orderdate": _days(rng, "1995-01-01", 2405, len(ok)),
            "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, len(ok))])},
        "lineitem": {
            "l_orderkey": pa.array(rng.choice(ok, nl), pa.int64()),
            "l_partkey": pa.array(rng.choice(pk, nl), pa.int64()),
            "l_suppkey": pa.array(rng.choice(sk, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
            "l_shipdate": _days(rng, "1995-01-02", 2499, nl)},
        "events": {
            "event_id": pa.array(off["events"] + np.arange(ne), pa.int64()),
            # 30 days at microsecond grain, like the repo's events stream
            "ts": pa.array(np.datetime64("2024-01-01", "us") +
                           rng.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]"),
                           type=pa.timestamp("us")),
            "user_id": pa.array(s * users + rng.integers(0, users, ne), pa.int64()),
            "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, ne)]),
            "value": pa.array(_money(rng, 0.0, 500.0, ne)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne).tolist()])},
    }


def write_catalog(root, seed, slices, frac=1.0):
    """`slices` seeded slices of the sf0.1-shaped tables, unioned with
    consistent key offsets, each table's rows in a seeded order, one
    parquet file per table (the layout `graft.Tables` reads)."""
    os.makedirs(root, exist_ok=True)
    parts = [_slice(np.random.default_rng([seed, 7, s]), s, frac) for s in range(slices)]
    rng = np.random.default_rng([seed, 8])
    for name in SLICE:
        cols = {c: pa.concat_arrays([p[name][c] for p in parts]) for c in parts[0][name]}
        table = pa.table(cols)
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=1 << 17)
        with open(path, "rb+") as f:
            _sync(f)
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)}),
        os.path.join(root, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        os.path.join(root, "nation.parquet"))
