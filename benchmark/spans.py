#!/usr/bin/env python3
"""Span summarizer for traced benchmark runs.

    python3 benchmark/spans.py .bench_build/traces/<workload>-seed<n>.spans.json

A span is {id, parent, name, start_ns, end_ns}; its layer is the part
of its name before the first dot (spark.job spans form the layer
"spark"). A span's self time is its duration minus the part of its
interval that its child spans cover. Per layer this prints the span
count, the summed span time ("wall"), the summed self time, the union
of the layer's intervals, and how many of the layer's spans stick out
of their parent span ("escaped"). Self time is only meaningful when no
span escapes: the part of a child outside its parent is charged to
nobody. The command exits 1 if any span escapes.
"""
import json
import sys

# spans come from millisecond timestamps; a child may overhang its
# parent by this much before it counts as escaped
TOLERANCE_NS = 1000000

E2E_DIRECTION = {"setup_s": -1, "ok_frac": 1, "latency_p50_ms": -1, "throughput_per_s": 1}


def union_ns(iv):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(x for x in iv if x[1] > x[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Maps span id to its self time in ns."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered = union_ns([(max(c["start_ns"], a), min(c["end_ns"], b))
                            for c in children.get(s["id"], [])])
        out[s["id"]] = max(b - a, 0) - covered
    return out


def escaped(spans):
    """The spans that start before or end after their parent span, as
    (span, parent, overhang in ns)."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        p = by_id.get(s["parent"])
        if p is None:
            continue
        over = max(p["start_ns"] - s["start_ns"], 0) + max(s["end_ns"] - p["end_ns"], 0)
        if over > TOLERANCE_NS:
            out.append((s, p, over))
    return out


def layers(spans):
    st = self_times(spans)
    esc = {s["id"] for s, _, _ in escaped(spans)}
    acc = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        d = acc.setdefault(layer, {"spans": 0, "wall_ns": 0, "self_ns": 0, "iv": [], "escaped": 0})
        d["spans"] += 1
        d["wall_ns"] += max(s["end_ns"] - s["start_ns"], 0)
        d["self_ns"] += st[s["id"]]
        d["iv"].append((s["start_ns"], s["end_ns"]))
        d["escaped"] += s["id"] in esc
    return {k: {"spans": d["spans"], "wall_s": d["wall_ns"] / 1e9, "self_s": d["self_ns"] / 1e9,
                "union_s": union_ns(d["iv"]) / 1e9, "escaped": d["escaped"]} for k, d in acc.items()}


def summary(spans):
    lines = ["%-10s %7s %10s %10s %10s %7s" % ("layer", "spans", "wall_s", "self_s", "union_s", "escaped")]
    for k, d in sorted(layers(spans).items()):
        lines.append("%-10s %7d %10.4f %10.4f %10.4f %7d" % (
            k, d["spans"], d["wall_s"], d["self_s"], d["union_s"], d["escaped"]))
    esc = escaped(spans)
    if not esc:
        lines.append("nesting: every span lies inside its parent")
    else:
        s, p, over = max(esc, key=lambda x: x[2])
        lines.append("nesting: %d spans stick out of their parent, %.4f s in all; worst: %s "
                     "overhangs %s by %.4f s" % (len(esc), sum(x[2] for x in esc) / 1e9, s["name"],
                                                  p["name"], over / 1e9))
    return lines


def overhead(traced_e2e, ref):
    """Traced-versus-untraced change of each end-to-end metric, signed
    so that a positive share means tracing made it worse."""
    out = []
    for k, sign in E2E_DIRECTION.items():
        t, u = traced_e2e.get(k), ref["e2e"].get(k)
        if t is None or not u:
            continue
        worse = (u - t) / u if sign > 0 else (t - u) / u
        out.append("tracing overhead %-18s %+.1f%% (traced %.4f vs untraced %.4f, seed %s)"
                   % (k, 100 * worse, t, u, ref["seed"]))
    return out


if __name__ == "__main__":
    sp = json.load(open(sys.argv[1]))
    for line in summary(sp):
        print(line)
    sys.exit(1 if escaped(sp) else 0)
