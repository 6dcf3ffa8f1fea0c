"""Seeded input generator for the CDC benchmark.

Everything the program under test receives is made here: a schema
registry file and gzipped JSONL Datastream envelope files. The same seed
gives byte-identical files. The generator also keeps its own ledger of
what it emitted (per-file, per-table counts and key sums), which is one
of the two oracles the checks use; the other is DuckDB over the same
envelope files (see check.py).
"""

import gzip
import json
import os
import random
import time

BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z

# name -> (pk, [(column, registry type)]); every table also carries the
# synthetic `action` STRING and `update_date` TIMESTAMP columns.
TABLES = {
    "region": ("r_regionkey", [("r_regionkey", "INT64"), ("r_name", "STRING")]),
    "nation": ("n_nationkey", [("n_nationkey", "INT64"), ("n_name", "STRING"),
                               ("n_regionkey", "INT64")]),
    "customer": ("c_custkey", [("c_custkey", "INT64"), ("c_name", "STRING"),
                               ("c_nationkey", "INT64"), ("c_acctbal", "FLOAT"),
                               ("c_mktsegment", "STRING")]),
    "supplier": ("s_suppkey", [("s_suppkey", "INT64"), ("s_name", "STRING"),
                               ("s_nationkey", "INT64"), ("s_acctbal", "FLOAT")]),
    "part": ("p_partkey", [("p_partkey", "INT64"), ("p_name", "STRING"),
                           ("p_brand", "STRING"), ("p_type", "STRING"),
                           ("p_size", "INT64"), ("p_retailprice", "FLOAT")]),
    "orders": ("o_orderkey", [("o_orderkey", "INT64"), ("o_custkey", "INT64"),
                              ("o_orderstatus", "STRING"), ("o_totalprice", "FLOAT"),
                              ("o_orderdate", "STRING"), ("o_orderpriority", "STRING")]),
    "lineitem": ("l_id", [("l_id", "INT64"), ("l_orderkey", "INT64"),
                          ("l_partkey", "INT64"), ("l_suppkey", "INT64"),
                          ("l_quantity", "FLOAT"), ("l_extendedprice", "FLOAT"),
                          ("l_discount", "FLOAT"), ("l_returnflag", "STRING"),
                          ("l_shipdate", "STRING")]),
    "events": ("event_id", [("event_id", "INT64"), ("ts", "STRING"),
                            ("user_id", "INT64"), ("event_type", "STRING"),
                            ("value", "FLOAT"), ("props", "STRING")]),
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "cart", "purchase"]


def registry(tables):
    reg = {}
    for t in tables:
        _, cols = TABLES[t]
        fields = [{"name": c, "type": ty} for c, ty in cols]
        fields += [{"name": "action", "type": "STRING"},
                   {"name": "update_date", "type": "TIMESTAMP"}]
        reg[t] = {"table_name": t, "schema": {"fields": fields}}
    return reg


def fmt_ts(ms):
    s, milli = divmod(ms, 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s)) + ".%03dZ" % milli


def _money(r, lo, hi):
    return round(r.uniform(lo, hi), 2)


def _row(r, table, key):
    if table == "region":
        return {"r_regionkey": key, "r_name": "REGION%d" % r.randrange(100)}
    if table == "nation":
        return {"n_nationkey": key, "n_name": "NATION%d" % r.randrange(1000),
                "n_regionkey": r.randrange(5)}
    if table == "customer":
        return {"c_custkey": key, "c_name": "Customer#%09d" % key,
                "c_nationkey": r.randrange(25), "c_acctbal": _money(r, -999, 9999),
                "c_mktsegment": r.choice(SEGMENTS)}
    if table == "supplier":
        return {"s_suppkey": key, "s_name": "Supplier#%09d" % key,
                "s_nationkey": r.randrange(25), "s_acctbal": _money(r, -999, 9999)}
    if table == "part":
        return {"p_partkey": key, "p_name": "part %d" % r.randrange(10 ** 6),
                "p_brand": "Brand#%d%d" % (r.randint(1, 5), r.randint(1, 5)),
                "p_type": "TYPE%d" % r.randrange(150), "p_size": r.randint(1, 50),
                "p_retailprice": _money(r, 900, 2000)}
    if table == "orders":
        return {"o_orderkey": key, "o_custkey": r.randrange(1, 20000),
                "o_orderstatus": r.choice(STATUSES),
                "o_totalprice": _money(r, 100, 500000),
                "o_orderdate": "1995-%02d-%02d" % (r.randint(1, 12), r.randint(1, 28)),
                "o_orderpriority": r.choice(PRIORITIES)}
    if table == "lineitem":
        return {"l_id": key, "l_orderkey": r.randrange(1, 10 ** 6),
                "l_partkey": r.randrange(1, 20000), "l_suppkey": r.randrange(1, 1000),
                "l_quantity": float(r.randint(1, 50)),
                "l_extendedprice": _money(r, 900, 100000),
                "l_discount": r.randint(0, 10) / 100.0,
                "l_returnflag": r.choice("ARN"),
                "l_shipdate": "1996-%02d-%02d" % (r.randint(1, 12), r.randint(1, 28))}
    if table == "events":
        return {"event_id": key, "ts": "2024-01-%02d" % r.randint(1, 28),
                "user_id": r.randrange(1, 5000), "event_type": r.choice(EVENT_TYPES),
                "value": _money(r, 0, 100), "props": "p%d" % r.randrange(1000)}
    raise KeyError(table)


class Stream:
    """A seeded change stream over a set of tables.

    `mix` maps table -> (weight, p_insert, p_update); the rest of the
    probability is delete. Inserts always use a fresh key; updates and
    deletes pick a uniformly random live key. Timestamps strictly
    increase across the whole stream, so every (key, version) is unique
    and latest-version semantics are unambiguous.
    """

    def __init__(self, seed, mix, unknown=0.0, malformed=0.0):
        self.r = random.Random(seed)
        self.mix = mix
        self.tables = list(mix)
        self.weights = [mix[t][0] for t in self.tables]
        self.unknown = unknown
        self.malformed = malformed
        self.ms = BASE_MS
        self.next_key = {t: 1 for t in mix}
        self.live = {t: [] for t in mix}
        self.live_pos = {t: {} for t in mix}

    def _drop_live(self, t, k):
        lst, pos = self.live[t], self.live_pos[t]
        i = pos.pop(k)
        last = lst.pop()
        if last != k:
            lst[i] = last
            pos[last] = i

    def next(self):
        """One envelope line plus its ledger entry: (line, table or None, key)."""
        r = self.r
        self.ms += r.randint(5, 15)
        ts = fmt_ts(self.ms)
        u = r.random()
        if u < self.malformed:
            return '{"object": "orders", "source_timestamp": "%s", "payl' % ts, None, 0
        if u < self.malformed + self.unknown:
            env = {"object": "shipments", "source_timestamp": ts,
                   "source_metadata": {"change_type": "insert"},
                   "payload": {"sh_id": r.randrange(10 ** 6)}}
            return json.dumps(env, separators=(",", ":")), None, 0
        t = r.choices(self.tables, self.weights)[0]
        _, p_ins, p_upd = self.mix[t]
        pk = TABLES[t][0]
        v = r.random()
        if len(self.live[t]) < 8 or v < p_ins:
            op, k = "insert", self.next_key[t]
            self.next_key[t] += 1
            self.live_pos[t][k] = len(self.live[t])
            self.live[t].append(k)
            payload = _row(r, t, k)
        else:
            k = self.live[t][r.randrange(len(self.live[t]))]
            if v < p_ins + p_upd:
                op, payload = "update", _row(r, t, k)
            else:
                op, payload = "delete", {pk: k}
                self._drop_live(t, k)
        env = {"object": t, "source_timestamp": ts,
               "source_metadata": {"change_type": op}, "payload": payload}
        return json.dumps(env, separators=(",", ":")), t, k


def write_files(stream, out_dir, prefix, n_files, per_file):
    """Write `n_files` gzip JSONL files of `per_file` envelopes each.

    Returns the ledger: one dict per file with its name, line count,
    uncompressed bytes, and per-table row counts and key sums (`_dead`
    for lines that must reach the dead letter)."""
    os.makedirs(out_dir, exist_ok=True)
    ledger = []
    for i in range(n_files):
        name = "%s-%05d.json.gz" % (prefix, i)
        counts, keysum, nbytes = {}, {}, 0
        lines = []
        for _ in range(per_file):
            line, t, k = stream.next()
            lines.append(line)
            nbytes += len(line) + 1
            tag = t or "_dead"
            counts[tag] = counts.get(tag, 0) + 1
            keysum[tag] = keysum.get(tag, 0) + k
        # mtime=0: the same seed gives byte-identical files
        with gzip.GzipFile(os.path.join(out_dir, name), "wb", compresslevel=1, mtime=0) as f:
            f.write(("\n".join(lines) + "\n").encode("utf-8"))
        ledger.append({"file": name, "lines": per_file, "bytes": nbytes,
                       "counts": counts, "keysum": keysum})
    return ledger
