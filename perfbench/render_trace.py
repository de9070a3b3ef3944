"""Print a traced run's per-layer table and its tracing overhead.

    python3 perfbench/render_trace.py .perfbench/traces/<workload>-<seed>.json

A trace file is written by `perfbench/run.py ... --trace 1`. Numbers are per
traced stream pass. `self s` is a layer's span time not covered by its
child spans; `gap s` is the part of that self time no Spark job covered.
The op accounting line checks that the spans explain each op's latency:
the self times of an op's spans (the benchmark's own op span included)
add up to the op's measured latency. The traffic line gives the task
seconds per wall second of the traced calls and the share of their time
no Spark job covered.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def render(trace, out=sys.stdout):
    n = max(trace["n_traced_rounds"], 1)
    table = stats.span_table(trace)
    agg = stats.layer_rows(table)
    cols = ("calls", "busy_s", "eager_s", "jobs", "driver_gap_s", "task_s",
            "plan_s", "shuffle_mb", "spill_mb", "failed")
    heads = ("layer", "calls", "self s", "eager s", "jobs", "gap s", "task s",
             "plan s", "shuf MB", "spill MB", "failed")
    out.write("%-22s" % heads[0] + "".join("%10s" % h for h in heads[1:]) + "\n")
    for layer in sorted(agg, key=lambda k: (k is None, k or "")):
        a = agg[layer]
        name = layer or "(benchmark op spans)"
        out.write("%-22s" % name + "".join(
            "%10.3f" % (a[c] / n) if c not in ("calls", "jobs", "failed")
            else "%10.1f" % (a[c] / n) for c in cols) + "\n")
    # every op's latency against the self times of its spans
    by_op = {}
    for r in table:
        by_op.setdefault(r["span"]["op"], 0.0)
        by_op[r["span"]["op"]] += r["self_s"]
    ops = {o["id"]: o for o in trace["ops"]}
    errs = [abs(by_op[k] * 1000.0 - ops[k]["ms"]) for k in by_op if k in ops]
    if errs:
        out.write(f"op accounting: {len(errs)} traced ops; span self times "
                  f"sum to op latency within {max(errs):.2f} ms\n")
        # the traffic the workload's description claims: how much task
        # time each wall second of its calls buys, and how much of the
        # calls' time runs no Spark job at all
        op_s = sum(ops[k]["ms"] for k in by_op if k in ops) / 1000.0
        task = sum(r["task_s"] for r in table)
        gap = sum(r["driver_gap_s"] for r in table)
        out.write(f"traffic: {task / op_s:.2f} task-s per wall-s of calls; "
                  f"{gap / op_s * 100:.0f}% of call time ran no Spark job\n")
    # rounds still speed up after the warm-up, so the traced round is set
    # against both untraced neighbours: the earlier one overstates the
    # untraced time, the later one understates it
    rounds = trace["round_stats"]
    for i, r in enumerate(rounds):
        if r["traced"] and 0 < i < len(rounds) - 1:
            t = r["wall_s"]
            b, a = rounds[i - 1]["wall_s"], rounds[i + 1]["wall_s"]
            out.write(f"tracing overhead: traced round {t:.3f} s vs untraced "
                      f"{b:.3f} s before ({(t / b - 1) * 100:+.1f}%) and "
                      f"{a:.3f} s after ({(t / a - 1) * 100:+.1f}%)\n")


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    with open(argv[1]) as f:
        render(json.load(f))


if __name__ == "__main__":
    main(sys.argv)
