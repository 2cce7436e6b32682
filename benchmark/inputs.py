#!/usr/bin/env python3
"""Generates the envelopes the ingest workloads send, from the seed.

    python3 benchmark/inputs.py ingest_http|ingest_backlog SEED OUT_DIR

Each segment is one file of lines `<class>\\t<event_id>\\t<body>`, where
the class is V (valid), U (unknown user: rejected by the in-stream auth
semi-join), M (malformed inner `props`: routed to the DLQ), J (invalid
JSON body: HTTP 400) or K (revoked API key: HTTP 401). Classes come in a
fixed mix per 100, shuffled per block of 100. `manifest.txt` holds the
segment sizes as `key=value` lines. The same seed gives the same files.

`cached()` keeps the output under the build directory, keyed by this
file's content hash, the workload and the seed, so a checkout generates
each input once and the timed program never pays for it.
"""
import hashlib
import os
import shutil
import sys

import numpy as np

HTTP_MIX = (("V", 88), ("U", 4), ("M", 4), ("J", 2), ("K", 2))
BACKLOG_MIX = (("V", 92), ("U", 4), ("M", 4))
USERS = 2000
UNKNOWN_USER_BASE = 1000000
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")

# ingest_http segments: (name, POSTs, mix, first event_id)
HTTP_SEGMENTS = (
    ("setup", 10, (("V", 1),), 1000000000),
    # phase B's pool: a closed loop sends as many as the endpoint takes
    ("cap", 40000, HTTP_MIX, 3000000000),
    # phase A: 600 POSTs at 40/s, 528 valid ones to time
    ("a", 600, HTTP_MIX, 4000000000),
    ("probe", 20, (("V", 1),), 5000000000),
)
BACKLOG_BURST_ROWS = 60000
BACKLOG_WARM_BURSTS = 3
BACKLOG_BURSTS = 6


def write_segment(path, rng, n, mix, first_id):
    block = np.array([c for c, k in mix for _ in range(k)])
    cls = np.concatenate([rng.permutation(block) for _ in range(-(-n // len(block)))])[:n]
    users = rng.integers(0, USERS, n) + np.where(cls == "U", UNKNOWN_USER_BASE, 0)
    ks, types, values = rng.integers(0, 100, n), rng.integers(0, 5, n), rng.integers(0, 56000, n)
    with open(path, "w") as fh:
        for i, (c, user, k, t, v) in enumerate(zip(cls.tolist(), users.tolist(), ks.tolist(),
                                                    types.tolist(), values.tolist())):
            props = ('{\\"k\\": %d' if c == "M" else '{\\"k\\": %d}') % k
            body = '{"event_id":%d,"user_id":%d,"event_type":"%s","value":%s,"props":"%s"}' % (
                first_id + i, user, EVENT_TYPES[t], v / 100, props)
            fh.write("%s\t%d\t%s\n" % (c, first_id + i, body[:20] if c == "J" else body))


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    manifest = {}
    if workload == "ingest_http":
        for k, (name, n, mix, first_id) in enumerate(HTTP_SEGMENTS):
            write_segment(os.path.join(out, "http-%s.tsv" % name), np.random.default_rng([seed, k]), n,
                          mix, first_id)
            manifest[name + "_posts"] = n
    elif workload == "ingest_backlog":
        n = BACKLOG_BURST_ROWS * (BACKLOG_WARM_BURSTS + BACKLOG_BURSTS)
        write_segment(os.path.join(out, "backlog.tsv"), np.random.default_rng(seed), n, BACKLOG_MIX, 1000000000)
        manifest.update(burst_rows=BACKLOG_BURST_ROWS, warm_bursts=BACKLOG_WARM_BURSTS,
                        bursts=BACKLOG_BURSTS)
    else:
        raise ValueError("no envelopes for workload %s" % workload)
    with open(os.path.join(out, "manifest.txt"), "w") as fh:
        fh.writelines("%s=%d\n" % kv for kv in sorted(manifest.items()))


def content_key(*files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def cached(build_dir, name, make, *sources):
    """The directory `make(dir)` fills, generated once per content key
    of `sources` and kept under build_dir/inputs/."""
    d = os.path.join(build_dir, "inputs", "%s-%s" % (name, content_key(*sources)))
    if os.path.exists(os.path.join(d, ".complete")):
        return d
    tmp = "%s.tmp%d" % (d, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def envelopes(build_dir, workload, seed):
    return cached(build_dir, "%s-seed%d" % (workload, seed),
                  lambda d: generate(workload, seed, d), os.path.abspath(__file__))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
