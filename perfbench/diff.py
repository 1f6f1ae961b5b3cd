#!/usr/bin/env python3
"""Per-layer diff of two benchmark records: names the layer metric behind
an end-to-end delta.

    python3 perfbench/diff.py BASE.json NEW.json
    python3 perfbench/diff.py --self-test TRACED.json

BASE and NEW are records run.py keeps under <build dir>/records/, of one
workload. For traced records (--trace 1) the per-operation self times
(self.*_s) partition an operation's wall time exactly, so the change in
operation time is the sum of their changes: the diff ranks the layers by
their share of it, names the one that moved most, and lists that layer's
call times and the counters that changed most. The setup.* lines partition
setup_s the same way. For untraced records it prints the end-to-end
deltas.

--self-test takes a traced record, makes a copy with the program's self
time and one of its layer calls raised by hand, and checks that the diff
names both.
"""
import copy
import json
import sys

SETUP = ["setup.session_s", "setup.artifacts_s", "setup.warm_s"]


def metrics(rec):
    return {k: v["value"] for k, v in rec["result"]["metrics"].items()}


def attribute(base, new, keys):
    """Deltas of `keys` (which sum to a total) ranked by |share| of it."""
    rows = [(k, new.get(k, 0.0) - base.get(k, 0.0)) for k in keys]
    total = sum(d for _, d in rows)
    ranked = sorted(rows, key=lambda r: -abs(r[1]))
    return total, [{"metric": k, "delta": d,
                    "share": d / total if total else 0.0} for k, d in ranked]


def rel(a, b):
    return (b - a) / a if a else (0.0 if b == a else float("inf"))


def diff(base_rec, new_rec):
    if base_rec["workload"] != new_rec["workload"]:
        raise SystemExit("diff: records are of different workloads")
    a, b = metrics(base_rec), metrics(new_rec)
    out = {"workload": base_rec["workload"],
           "machines": [base_rec.get("machine"), new_rec.get("machine")]}
    if not base_rec["trace"]:
        out["end_to_end"] = {k: {"base": a[k], "new": b.get(k),
                                 "rel": rel(a[k], b.get(k, 0.0))} for k in a}
        return out
    selfs = sorted(k for k in a if k.startswith("self."))
    total, ranked = attribute(a, b, selfs)
    behind = ranked[0]["metric"]
    layer = behind.split(".")[1][:-2]
    # the moved layer's own metrics: the program's layer calls from the
    # records, or the spark./catalyst. counters
    if layer == "program":
        fa, fb = base_rec["layer_calls"] or {}, new_rec["layer_calls"] or {}
    else:
        fa = {k: v for k, v in a.items() if k.startswith(layer + ".")}
        fb = b
    family = {k: {"base": v, "new": fb.get(k, 0.0)} for k, v in fa.items()}
    moved = max(family, key=lambda k: abs(family[k]["new"] - family[k]["base"]),
                default=None)
    counters = sorted((k for k in a if k.startswith(("spark.", "catalyst.", "cache."))),
                      key=lambda k: -abs(rel(a[k], b.get(k, 0.0))))
    out.update({
        "op_time_delta_s": total,
        "attributed": ranked,
        "behind": behind,
        "behind_call": moved,
        "layer_metrics": family,
        "counters_moved": [{"metric": k, "base": a[k], "new": b.get(k),
                            "rel": rel(a[k], b.get(k, 0.0))}
                           for k in counters[:5] if a[k] != b.get(k)],
    })
    st, sr = attribute(a, b, SETUP)
    out["setup_delta_s"] = st
    out["setup_behind"] = sr[0]["metric"] if st else None
    return out


def show(d):
    if "end_to_end" in d:
        for k, v in d["end_to_end"].items():
            print(f"{k:24s} {v['base']:14.6g} -> {v['new']:14.6g}  {v['rel']:+.1%}")
        return
    print(f"operation time change: {d['op_time_delta_s']:+.4f} s/op")
    for r in d["attributed"]:
        print(f"  {r['metric']:22s} {r['delta']:+.4f} s/op  {r['share']:6.1%} of it")
    print(f"behind it: {d['behind']}, most of all {d['behind_call']}")
    for k, v in d["layer_metrics"].items():
        print(f"  {k:34s} {v['base']:.6g} -> {v['new']:.6g}")
    for c in d["counters_moved"]:
        print(f"  {c['metric']:34s} {c['base']:.6g} -> {c['new']:.6g} ({c['rel']:+.1%})")
    if d["setup_behind"]:
        print(f"setup change: {d['setup_delta_s']:+.3f} s, behind it: {d['setup_behind']}")


def self_test(path):
    base = json.load(open(path))
    if not base["trace"]:
        raise SystemExit("self-test: needs a traced record")
    # raise the program's self time and one of its layer calls by hand
    call = sorted(base["layer_calls"])[0]
    edited = copy.deepcopy(base)
    edited["result"]["metrics"]["self.program_s"]["value"] += 0.05
    edited["layer_calls"][call] += 0.05
    d = diff(base, edited)
    ok = (d["behind"] == "self.program_s" and d["behind_call"] == call
          and abs(d["op_time_delta_s"] - 0.05) < 1e-9)
    print(f"self-test: raised self.program_s and {call} by 0.05 s; diff names "
          f"{d['behind']} / {d['behind_call']}: {'ok' if ok else 'FAIL'}")
    return 0 if ok else 1


def main(argv):
    if len(argv) == 2 and argv[0] == "--self-test":
        return self_test(argv[1])
    if len(argv) != 2:
        print(__doc__)
        return 2
    d = diff(json.load(open(argv[0])), json.load(open(argv[1])))
    show(d)
    print(json.dumps(d))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
