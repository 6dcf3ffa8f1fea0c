"""Per-layer metrics from a traced run.

The harness records spans around each call into a layer (name, start,
end, parent, trigger or query id) and every Spark job with its start,
end, task CPU and shuffle bytes. Here each job is attributed to the
innermost span that was open when it started, and per-layer figures are
taken per trigger (or per query) and summarised by their median. Layers
a workload does not exercise report 0.
"""

import statistics

FOLDS = ["snapshot", "scd2", "agg"]
READ_KINDS = {"as_of": "versioned.as_of", "latest": "versioned.latest",
              "changes_between": "versioned.changes_between", "history": "versioned.history",
              "as_of_join": "versioned.as_of_join", "sql_as_of": "versioned_sql.as_of",
              "snapshot_read": "snapshot.read", "scd2_read": "scd2.read", "agg_read": "agg.read"}

UNITS = {}


def _unit(name, unit):
    UNITS[name] = unit


for _n in ["source.list_ms", "commit.wal_ms", "commit.offsets_ms", "commit.planning_ms",
           "registry.refresh_ms", "envelope.parse_ms", "ingest.append_ms", "ingest.task_cpu_ms",
           "ingest.driver_gap_ms", "ingest.compact_ms", "ingest.read_table_ms"]:
    _unit(_n, "ms")
for _n in ["ingest.jobs", "ingest.files_written", "ingest.rows_routed", "ingest.rows_dead"]:
    _unit(_n, "count")
_unit("ingest.compact_bytes", "bytes")
for _f in FOLDS:
    for _s, _u in [("fold_ms", "ms"), ("jobs", "count"), ("task_cpu_ms", "ms"),
                   ("shuffle_bytes", "bytes"), ("driver_gap_ms", "ms"),
                   ("touched_buckets", "count"), ("files_written", "count"),
                   ("read_ms", "ms"), ("files_read", "count"), ("speedup_vs_1core", "ratio")]:
        _unit("%s.%s" % (_f, _s), _u)
_unit("ingest.speedup_vs_1core", "ratio")
_unit("fold.speedup_vs_1core", "ratio")
_unit("fold.overlap_ms", "ms")
for _k in ["as_of", "latest", "changes_between", "history", "as_of_join"]:
    _unit("versioned.%s_ms" % _k, "ms")
_unit("versioned.jobs", "count")
_unit("versioned.shuffle_bytes", "bytes")
_unit("versioned_sql.as_of_ms", "ms")
_unit("versioned_sql.jobs", "count")
_unit("versioned_sql.shuffle_bytes", "bytes")
for _n, _u in [("trace.overhead_ratio", "ratio"), ("trace.coverage", "ratio"),
               ("trace.read_overhead_ratio", "ratio"),
               ("generator.lag_tail_ms", "ms"), ("layout.table_files", "count"),
               ("layout.table_bytes", "bytes"), ("layout.store_files", "count"),
               ("layout.store_bytes", "bytes")]:
    _unit(_n, _u)


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _union(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


class Trace:
    def __init__(self, t, skip=()):
        """`skip`: groups (trigger ids) to leave out, e.g. the warm-up."""
        self.spans = [s for s in t["spans"] if s["group"] not in skip]
        self.by_id = {s["id"]: s for s in self.spans}
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs = [j for j in t["jobs"] if j["end"] >= 0]
        self.notes = [n for n in t["notes"] if n["group"] not in skip]
        self.owner = {}
        for j in self.jobs:
            best = None
            for s in self.spans:
                if s["start"] - 1 <= j["start"] <= s["end"] and (best is None or s["start"] >= best["start"]):
                    best = s
            if best is not None:
                self.owner[j["id"]] = best["id"]

    def _under(self, span):
        """Ids of `span` and all its descendants."""
        out, todo = set(), [span["id"]]
        while todo:
            i = todo.pop()
            out.add(i)
            todo += [c["id"] for c in self.children.get(i, [])]
        return out

    def jobs_in(self, span):
        ids = self._under(span)
        return [j for j in self.jobs if self.owner.get(j["id"]) in ids]

    def wall(self, s):
        return s["end"] - s["start"]

    def self_time(self, s):
        return self.wall(s) - _union([(c["start"], c["end"]) for c in self.children.get(s["id"], [])])

    def gap(self, s):
        js = self.jobs_in(s)
        return self.wall(s) - _union([(max(j["start"], s["start"]), min(j["end"], s["end"]))
                                      for j in js if j["end"] > s["start"]])

    def per_group(self, name, f):
        """Sum of f(span) over the spans called `name`, per group."""
        acc = {}
        for s in self.spans:
            if s["name"] == name:
                acc[s["group"]] = acc.get(s["group"], 0.0) + f(s)
        return acc

    def med(self, name, f):
        return _med(list(self.per_group(name, f).values()))

    def note_med(self, name):
        acc = {}
        for n in self.notes:
            if n["name"] == name:
                acc[n["group"]] = acc.get(n["group"], 0.0) + n["value"]
        return _med(list(acc.values()))

    def triggers(self):
        return [s for s in self.spans if s["name"] == "trigger"]


def _call_metrics(tr, m, layer, span_name):
    m["%s.jobs" % layer] = tr.med(span_name, lambda s: len(tr.jobs_in(s)))
    m["%s.task_cpu_ms" % layer] = tr.med(span_name, lambda s: sum(j["cpu_ns"] for j in tr.jobs_in(s)) / 1e6)
    m["%s.driver_gap_ms" % layer] = tr.med(span_name, tr.gap)
    if layer != "ingest":
        m["%s.shuffle_bytes" % layer] = tr.med(
            span_name, lambda s: sum(j["shuffle_w"] for j in tr.jobs_in(s)))


def read_layers(res, m):
    """Read-phase layers from the traced pass over the query mix (the
    warm-up chunk's queries left out)."""
    first = min(q["landed"] for q in res["results"])
    warmup = {q["id"] for q in res["results"] if q["landed"] == first}
    tr = Trace(res["read_trace"], warmup)
    untraced = [q["ms"] for q in res["results"] if "ms" in q and q["id"] not in warmup]
    traced = [q["ms"] for q in res["trace_results"] if "ms" in q and q["id"] not in warmup]
    m["trace.read_overhead_ratio"] = _med(traced) / _med(untraced)
    for kind, name in READ_KINDS.items():
        if name.endswith(".read"):
            m[name + "_ms"] = tr.med(name, tr.wall)
            m[name.replace(".read", ".files_read")] = tr.note_med(kind + ".files_read")
        else:
            m[name + "_ms"] = tr.med(name, tr.wall)
    m["ingest.read_table_ms"] = tr.med("ingest.read_table", tr.wall)
    for layer in ("versioned", "versioned_sql"):
        spans = [s for s in tr.spans if s["name"].startswith(layer + ".")]
        m[layer + ".jobs"] = _med([len(tr.jobs_in(s)) for s in spans])
        m[layer + ".shuffle_bytes"] = _med([sum(j["shuffle_w"] for j in tr.jobs_in(s)) for s in spans])


def per_layer(workload, res, details):
    m = {k: 0.0 for k in UNITS}
    for sub, v in details["layout"].items():
        kind = "store" if sub.startswith("_") and not sub.startswith("_dead") else "table"
        m["layout.%s_files" % kind] += v["files"]
        m["layout.%s_bytes" % kind] += v["bytes"]
    read_layers(res, m)

    # engine phases, from the untraced stream's own progress events; the
    # warm-up trigger and chunk are left out here and in the replay
    warmup = set(details["warmup_batches"])
    prog = [p for p in res["progress"] if p["batch"] not in warmup]
    for key, name in [("latestOffset", "source.list_ms"), ("walCommit", "commit.wal_ms"),
                      ("commitOffsets", "commit.offsets_ms"), ("queryPlanning", "commit.planning_ms")]:
        m[name] = _med([p["d"].get(key, 0) for p in prog])
    untraced_trigger = _med([p["d"]["triggerExecution"] for p in prog])
    untraced_add = _med([p["d"]["addBatch"] for p in prog])

    tr = Trace(res["trace"], warmup)
    m["registry.refresh_ms"] = tr.med("registry.refresh", tr.wall)
    m["envelope.parse_ms"] = tr.med("envelope.parse", tr.wall)
    m["ingest.append_ms"] = tr.med("ingest.append", tr.wall)
    _call_metrics(tr, m, "ingest", "ingest.append")
    m["ingest.files_written"] = tr.note_med("ingest.files_written")
    m["ingest.compact_ms"] = tr.med("ingest.compact", tr.wall)
    m["ingest.compact_bytes"] = tr.note_med("ingest.compact_bytes")
    m["ingest.rows_routed"] = details["rows_routed"]
    m["ingest.rows_dead"] = details["rows_dead"]
    for f in FOLDS:
        m["%s.fold_ms" % f] = tr.med("%s.fold" % f, tr.wall)
        _call_metrics(tr, m, f, "%s.fold" % f)
        m["%s.touched_buckets" % f] = tr.note_med("%s.touched_buckets" % f)
        m["%s.files_written" % f] = tr.note_med("%s.files_written" % f)

    trig = tr.triggers()
    m["trace.coverage"] = _med([1.0 - tr.self_time(s) / tr.wall(s) for s in trig if tr.wall(s) > 0])
    m["trace.overhead_ratio"] = _med([tr.wall(s) for s in trig]) / untraced_trigger
    layer_sum = _med([sum(tr.wall(c) for c in tr.children.get(s["id"], [])) for s in trig])
    m["fold.overlap_ms"] = layer_sum - untraced_add
    if workload == "route_live":
        m["generator.lag_tail_ms"] = details["generator_lag_tail_ms"]["value"]
    if "trace_1core" in res:
        # the one-core replay is of the warm-up trigger alone; it is
        # compared with the same trigger of the multi-core replay
        one, multi = Trace(res["trace_1core"]), Trace(res["trace"])
        for layer, name in [("ingest", "ingest.append"), ("fold", "trigger")] + \
                [(f, f + ".fold") for f in FOLDS]:
            many = multi.per_group(name, multi.wall)
            ratios = [w / many[g] for g, w in one.per_group(name, one.wall).items() if many.get(g)]
            m[layer + ".speedup_vs_1core"] = _med(ratios)
    return m
