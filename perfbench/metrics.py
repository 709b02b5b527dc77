"""Pure arithmetic of the benchmark: percentiles, the tail choice, driver
time (span wall minus the union of Spark-job intervals inside it), and the
per-layer metrics derived from the harness's raw trace records."""
import statistics

# Tail percentiles, highest first; the tail is the highest one with at least
# TAIL_BEYOND samples above it. Below 4 * TAIL_BEYOND samples only the median
# qualifies (recorded as percentile 50), and no tail is reported.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile `p` (0-100) of `values`."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n, beyond=TAIL_BEYOND):
    """Highest ladder percentile with at least `beyond` of `n` samples above it."""
    for p in TAIL_LADDER:
        per_mille = round(p * 10)  # exact: 99.9 % leaves 1 per mille above it
        if n * (1000 - per_mille) >= beyond * 1000:
            return p
    return 50.0


def union_length(intervals, lo, hi):
    """Length of the union of the [a, b] `intervals`, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur = 0, None
    for a, b in clipped:
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Trace:
    """Index over one run's raw records: spans, jobs, stages, plans, progress."""

    def __init__(self, raw):
        self.raw = raw
        self.traced_ops = {o["i"] for o in raw["ops"] if o["traced"]}
        self.spans = [dict(name=s[0], op=s[1], t0=s[2], t1=s[3], sec=s[4]) for s in raw["spans"]]
        self.jobs = [dict(id=j[0], t0=j[1], t1=j[2], stages=j[3]) for j in raw["jobs"]]
        # a retried stage keeps its last completed attempt
        self.stages = {}
        for s in raw["stages"]:
            self.stages[s[0]] = dict(tasks=s[2], run_ms=s[3], shuffle_write=s[4],
                                     spill=s[5], gc_ms=s[6])
        self.plans = [dict(t0=p[0], ms=p[1], files=p[2]) for p in raw["plans"]]
        self.progress = [dict(t=p[0], rows=p[1], add_batch_ms=p[2]) for p in raw["progress"]]

    def instances(self, name):
        """Spans called `name` inside traced ops, grouped by op."""
        by_op = {}
        for s in self.spans:
            if s["name"] == name and s["op"] in self.traced_ops:
                by_op.setdefault(s["op"], []).append(s)
        return by_op

    def op_windows(self):
        """(t0, t1) ms of every traced op, from its `op` span."""
        return {s["op"]: (s["t0"], s["t1"]) for s in self.spans
                if s["name"] == "op" and s["op"] in self.traced_ops}

    def jobs_in(self, t0, t1):
        return [j for j in self.jobs if t0 <= j["t0"] <= t1]

    def span_stats(self, name):
        """Per-op medians of one span's wall, driver, job/stage/task counts
        and task metrics."""
        per_op = []
        for op, ss in self.instances(name).items():
            acc = dict(wall_s=0.0, driver_s=0.0, jobs=0, stages=0, tasks=0, task_s=0.0,
                       shuffle_write_bytes=0, spill_bytes=0, gc_s=0.0, plan_ms=0.0)
            for s in ss:
                jobs = self.jobs_in(s["t0"], s["t1"])
                busy = union_length([(j["t0"], j["t1"]) for j in jobs], s["t0"], s["t1"])
                acc["wall_s"] += s["sec"]
                acc["driver_s"] += max(0.0, s["sec"] - busy / 1000.0)
                acc["jobs"] += len(jobs)
                for sid in {sid for j in jobs for sid in j["stages"]}:
                    st = self.stages.get(sid)
                    if st is None:
                        continue  # skipped stage: its output was reused
                    acc["stages"] += 1
                    acc["tasks"] += st["tasks"]
                    acc["task_s"] += st["run_ms"] / 1000.0
                    acc["shuffle_write_bytes"] += st["shuffle_write"]
                    acc["spill_bytes"] += st["spill"]
                    acc["gc_s"] += st["gc_ms"] / 1000.0
                acc["plan_ms"] += sum(p["ms"] for p in self.plans if s["t0"] <= p["t0"] <= s["t1"])
            per_op.append(acc)
        keys = per_op[0].keys() if per_op else ()
        return {k: median([a[k] for a in per_op]) for k in keys}

    def by_op(self, records, value):
        """{traced op index: sum of value(r) over records started inside it}."""
        out = {}
        for op, (a, b) in self.op_windows().items():
            out[op] = sum(value(r) for r in records if a <= r["t0"] <= b)
        return out

    def plan_ms_by_op(self):
        return self.by_op(self.plans, lambda p: p["ms"])

    def files_by_op(self):
        return self.by_op(self.plans, lambda p: p["files"])

    def bronze_append_s(self):
        """Per-op median of the bronze sink's addBatch time (the
        CommitLogTable.append inside the run-once bronze drain)."""
        per_op = []
        for op, ss in self.instances("bronze").items():
            per_op.append(sum(p["add_batch_ms"] for s in ss for p in self.progress
                              if s["t0"] <= p["t"] <= s["t1"]) / 1000.0)
        return median(per_op)
