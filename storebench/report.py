#!/usr/bin/env python3
"""Per-layer report of traced store-benchmark runs.

usage: python3 storebench/report.py <workload> <seed> [<seed2>]

Reads the spans file of the traced run of <workload> at <seed> (written by
`storebench/run.py ... --trace 1`) and prints the per-layer table: for each
(layer, op), the median per call of wall ms, Spark jobs, tasks, job ms
(the union of the op's job spans) and driver ms (the op's self time),
plus the op's own counts. It also prints self time per layer and, when
the untraced run of the same workload and seed is on record, the tracing
overhead (traced minus untraced end-to-end metrics).

With <seed2>, it also checks that the jobs-per-call counts of every op
repeat exactly in the traced run at <seed2>, call by call over the calls
both runs made, and exits 1 if they do not.

Attribution: the benchmark runs one op at a time, so each Spark job that
starts inside an op's span belongs to that op, whichever thread
submitted it.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = os.path.join(os.path.dirname(HERE), ".bench_build", "runs")


def run_path(workload, seed, trace, suffix="json"):
    return os.path.join(RUNS, f"{workload}-seed{seed}-trace{trace}.{suffix}")


def load_spans(path):
    run, ops, jobs = None, [], []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            kind = rec.pop("type")
            if kind == "run":
                run = rec
            elif kind == "op":
                ops.append(rec)
            else:
                jobs.append(rec)
    return run, ops, jobs


def union_ms(spans):
    total, cur_s, cur_e = 0, None, None
    for a, b in sorted(spans):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def calls(ops, jobs):
    """Each op with the jobs that started inside its span."""
    jobs = sorted(jobs, key=lambda j: j["start"])
    out = []
    for op in ops:
        mine = [j for j in jobs if op["start"] <= j["start"] <= op["end"]]
        spans = [(j["start"], op["end"] if j["end"] < 0 else min(j["end"], op["end"]))
                 for j in mine]
        job_ms = union_ms(spans)
        c = dict(op)
        c.update(
            jobs=len(mine),
            tasks=sum(j["tasks"] for j in mine),
            job_ms=float(job_ms),
            driver_ms=max(0.0, op["ms"] - job_ms),
            task_ms=float(sum(j["task_ms"] for j in mine)),
            input_records=sum(j["input_records"] for j in mine),
            shuffle_mb=sum(j["shuffle_bytes"] for j in mine) / 2**20,
        )
        out.append(c)
    return out


# (quantity, unit) reported for each op, when the op measured it
QUANTITIES = [
    ("ms", "ms"), ("jobs", "count"), ("tasks", "count"), ("job_ms", "ms"),
    ("driver_ms", "ms"), ("files_added", "count"), ("bytes_written", "B"),
    ("plan_ms", "ms"), ("exec_ms", "ms"), ("files_read", "count"),
    ("files_total", "count"), ("rows_read_per_row", "ratio"),
    ("shuffle_mb", "MB"),
]


def by_op(cs):
    """Calls grouped by (layer, kind): the timed calls of a kind, or its
    set-up calls when it ran only in set-up (analyze, the store build)."""
    groups = {}
    for c in cs:
        groups.setdefault((c["layer"], c["kind"]), []).append(c)
    return {k: ([c for c in v if c["timed"]] or v) for k, v in groups.items()}


def value(c, q):
    if q in c:
        return c[q]
    if q == "rows_read_per_row":
        rows = c["extra"].get("rows_returned")
        return c["input_records"] / max(rows, 1) if rows is not None else None
    return c["extra"].get(q)


def layer_metrics(spans_path):
    """name -> (value, unit) for every op and the spark layer."""
    run, ops, jobs = load_spans(spans_path)
    cs = calls(ops, jobs)
    out = {}
    for (layer, kind), group in sorted(by_op(cs).items()):
        for q, unit in QUANTITIES:
            if q == "shuffle_mb" and layer != "ops":
                continue
            xs = [v for v in (value(c, q) for c in group) if v is not None]
            if xs:
                out[f"{layer}.{kind}.{q}"] = (statistics.median(xs), unit)
    timed = [c for c in cs if c["timed"]]
    n = max(len(timed), 1)
    wall_ms = max(run["wall_s"], 1e-9) * 1000
    out["spark.jobs"] = (sum(c["jobs"] for c in timed) / n, "count")
    out["spark.tasks"] = (sum(c["tasks"] for c in timed) / n, "count")
    out["spark.task_ms"] = (sum(c["task_ms"] for c in timed) / n, "ms")
    out["spark.cpu_busy_share"] = (
        sum(c["task_ms"] for c in timed) / (wall_ms * run["cores"]), "ratio")
    out["spark.gc_ms"] = (run["gc_ms"] / n, "ms")
    out["spark.cached_mb"] = (
        max([c["extra"].get("cached_mb", 0.0) for c in timed] or [0.0]), "MB")
    if "bytes_per_row" in run:
        out["journal.store.bytes_per_row"] = (run["bytes_per_row"], "B")
    return out


def jobs_per_call(spans_path):
    """(layer, kind) -> job count of each call, in call order."""
    _, ops, jobs = load_spans(spans_path)
    return {k: [c["jobs"] for c in g] for k, g in by_op(calls(ops, jobs)).items()}


def main(argv):
    if len(argv) not in (3, 4):
        print(__doc__, file=sys.stderr)
        return 2
    workload, seed = argv[1], argv[2]
    spans = run_path(workload, seed, 1, "spans.jsonl")
    run, ops, jobs = load_spans(spans)
    cs = calls(ops, jobs)
    print(f"# {workload} seed {seed}: {len(ops)} ops ({sum(c['timed'] for c in cs)} timed), "
          f"{len(jobs)} jobs, local[{run['cores']}]")
    cols = ["calls", "ms", "jobs", "tasks", "job_ms", "driver_ms"]
    print(f"{'layer.op':32s}" + "".join(f"{c:>11s}" for c in cols) + "  other")
    for (layer, kind), g in sorted(by_op(cs).items()):
        med = [statistics.median(value(c, q) for c in g) for q in cols[1:]]
        other = []
        for q, _ in QUANTITIES[5:]:
            xs = [v for v in (value(c, q) for c in g) if v is not None]
            if xs and not (q == "shuffle_mb" and layer != "ops"):
                other.append(f"{q}={statistics.median(xs):.4g}")
        print(f"{layer + '.' + kind:32s}{len(g):>11d}" + "".join(f"{v:>11.1f}" for v in med)
              + "  " + " ".join(other))
    timed = [c for c in cs if c["timed"]]
    print("\n# self time per layer over the timed region (ms)")
    for layer in sorted({c["layer"] for c in timed}):
        mine = [c for c in timed if c["layer"] == layer]
        print(f"{layer:10s} driver {sum(c['driver_ms'] for c in mine):10.1f}"
              f"   in Spark jobs {sum(c['job_ms'] for c in mine):10.1f}")
    for name, (v, unit) in layer_metrics(spans).items():
        if name.startswith("spark."):
            print(f"{name:24s} {v:.4g} {unit}")

    traced_rec, plain_rec = run_path(workload, seed, 1), run_path(workload, seed, 0)
    if os.path.exists(traced_rec) and os.path.exists(plain_rec):
        t = json.load(open(traced_rec))["metrics"]
        p = json.load(open(plain_rec))["metrics"]
        print("\n# tracing overhead: traced minus untraced, same workload and seed")
        for k in sorted(set(t) & set(p)):
            a, b = t[k]["value"], p[k]["value"]
            if a is not None and b is not None:
                share = f" ({(a - b) / b:+.1%})" if b else ""
                print(f"{k:24s} {a - b:+.4g} {t[k]['unit']}{share}")

    if len(argv) == 4:
        a = jobs_per_call(spans)
        b = jobs_per_call(run_path(workload, argv[3], 1, "spans.jsonl"))
        print(f"\n# jobs per call, seed {seed} vs seed {argv[3]}")
        bad = []
        for k in sorted(set(a) | set(b)):
            x, y = a.get(k, []), b.get(k, [])
            n = min(len(x), len(y))
            if n == 0 or x[:n] != y[:n]:
                bad.append(k)
            print(f"{k[0] + '.' + k[1]:32s} {x} {y}" + ("  DIFFERS" if k in bad else ""))
        if bad:
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
