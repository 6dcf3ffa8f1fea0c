"""Output checks for the CDC benchmark.

Every check compares what the program wrote against an oracle that does
not run the program: the generator's ledger (per-file row counts and key
sums) or DuckDB evaluated over the same envelope files the program
received. Each returns a list of failure strings; empty means correct.
"""

import os

import duckdb

import gen

FOLD_TABLES = ["orders", "customer", "part"]


def _cols(table):
    return [c for c, _ in gen.TABLES[table][1]]


def _typed(table):
    """DuckDB expressions that project one table's envelopes like the
    registry does: payload fields by declared type, plus action and
    update_date."""
    out = []
    for c, ty in gen.TABLES[table][1]:
        sql_ty = {"INT64": "BIGINT", "FLOAT": "DOUBLE", "STRING": "VARCHAR"}[ty]
        out.append("CAST(json_extract_string(payload, '$.%s') AS %s) AS %s" % (c, sql_ty, c))
    out.append("action")
    out.append("CAST(source_timestamp AS TIMESTAMP) AS update_date")
    return ", ".join(out)


def _glob(d):
    return os.path.join(d, "**", "*.parquet")


class Checker:
    def __init__(self, *dirs):
        self.dirs = list(dirs)
        self.db = duckdb.connect()
        self.loaded = None

    def _path(self, name):
        for d in self.dirs:
            p = os.path.join(d, name)
            if os.path.exists(p):
                return p
        raise FileNotFoundError(name)

    def _load(self, files):
        """Envelope files -> one DuckDB view per table (`cl_<table>`)."""
        key = tuple(files)
        if self.loaded == key:
            return
        paths = [self._path(f) for f in files]
        self.db.execute("CREATE OR REPLACE TABLE env AS SELECT object, source_timestamp, "
                        "source_metadata.change_type AS action, payload FROM read_json(?, "
                        "format='newline_delimited', ignore_errors=true, columns={'object': 'VARCHAR', "
                        "'source_timestamp': 'VARCHAR', "
                        "'source_metadata': 'STRUCT(change_type VARCHAR)', 'payload': 'JSON'})",
                        [paths])
        for t in FOLD_TABLES:
            self.db.execute("CREATE OR REPLACE TABLE cl_%s AS SELECT %s FROM env WHERE object = '%s' "
                            "AND json_extract_string(payload, '$.%s') IS NOT NULL"
                            % (t, _typed(t), t, gen.TABLES[t][0]))
        self.loaded = key

    def _diff(self, what, got_sql, want_sql):
        n = self.db.execute("SELECT (SELECT count(*) FROM ((%s) EXCEPT ALL (%s))) + "
                            "(SELECT count(*) FROM ((%s) EXCEPT ALL (%s)))"
                            % (got_sql, want_sql, want_sql, got_sql)).fetchone()[0]
        return ["%s: %d rows differ from the oracle" % (what, n)] if n else []

    def routing(self, wh, tables, ledger):
        """Per table: routed rows and their key sum equal the generator's
        ledger; dead-letter rows equal the unknown and malformed lines."""
        fails = []
        for t in tables + ["_dead"]:
            want_n = sum(e["counts"].get(t, 0) for e in ledger)
            want_k = sum(e["keysum"].get(t, 0) for e in ledger)
            d = os.path.join(wh, "_dead_letter" if t == "_dead" else t)
            if t == "_dead":
                got = self.db.execute("SELECT count(*), 0 FROM read_parquet(?)", [_glob(d)]).fetchone() \
                    if want_n else (0, 0)
            else:
                pk = gen.TABLES[t][0]
                got = self.db.execute("SELECT count(*), coalesce(sum(%s), 0) FROM read_parquet(?)" % pk,
                                      [_glob(d)]).fetchone()
            if (got[0], got[1]) != (want_n, want_k if t != "_dead" else 0):
                fails.append("routing %s: got %s rows (key sum %s), generated %d (key sum %d)"
                             % (t, got[0], got[1], want_n, want_k))
        return fails

    def _snapshot_sql(self, t):
        pk = gen.TABLES[t][0]
        cols = ", ".join(_cols(t) + ["action", "update_date"])
        return ("SELECT %s FROM (SELECT *, row_number() OVER (PARTITION BY %s ORDER BY "
                "update_date DESC, action DESC) AS rn FROM cl_%s) WHERE rn = 1" % (cols, pk, t))

    def stores(self, wh, files):
        """Maintained snapshot, SCD2 and aggregate stores equal their
        recomputation from the whole changelog."""
        self._load(files)
        fails = []
        for t in FOLD_TABLES:
            cols = ", ".join(_cols(t) + ["action", "update_date"])
            fails += self._diff("snapshot %s" % t,
                                "SELECT %s FROM read_parquet('%s')" % (cols, _glob(os.path.join(wh, "_snapshot", t))),
                                self._snapshot_sql(t))
        cols = ", ".join(_cols("orders") + ["action", "update_date"])
        scd2 = ("SELECT %s, update_date AS valid_from, lead(update_date) OVER w AS valid_to, "
                "(lead(update_date) OVER w IS NULL AND action <> 'delete') AS is_current "
                "FROM cl_orders WINDOW w AS (PARTITION BY o_orderkey ORDER BY update_date, action)" % cols)
        fails += self._diff("scd2 orders",
                            "SELECT %s, valid_from, valid_to, is_current FROM read_parquet('%s')"
                            % (cols, _glob(os.path.join(wh, "_scd2", "orders"))), scd2)
        agg = ("SELECT p_brand, count(*) AS n_rows, sum(CAST(p_retailprice AS DECIMAL(38,8))) "
               "AS sum_p_retailprice FROM (%s) WHERE action <> 'delete' GROUP BY p_brand"
               % self._snapshot_sql("part"))
        fails += self._diff("agg part.by_brand",
                            "SELECT p_brand, n_rows, sum_p_retailprice FROM read_parquet('%s')"
                            % _glob(os.path.join(wh, "_agg", "part", "by_brand")), agg)
        return fails

    def same_warehouse(self, a, b):
        """The traced replay wrote exactly the rows the stream wrote."""
        fails = []
        for name in sorted(os.listdir(a)):
            if name.startswith(".") or not os.path.isdir(os.path.join(a, name)):
                continue
            stores = [os.path.join(name, s) for s in sorted(os.listdir(os.path.join(a, name)))] \
                if name.startswith("_") and name != "_dead_letter" else [name]
            for s in stores:
                ga, gb = _glob(os.path.join(a, s)), _glob(os.path.join(b, s))
                cols = [r[0] for r in self.db.execute(
                    "DESCRIBE SELECT * FROM read_parquet(?, hive_partitioning=false)", [ga]).fetchall()]
                sel = ", ".join('"%s"' % c for c in cols)
                fails += self._diff("replay %s" % s,
                                    "SELECT %s FROM read_parquet('%s', hive_partitioning=false, union_by_name=true)" % (sel, ga),
                                    "SELECT %s FROM read_parquet('%s', hive_partitioning=false, union_by_name=true)" % (sel, gb))
        return fails

    # ------------------------------------------------------------ read phase

    def _oracle_digest(self, q):
        k, t, t2 = q.get("k"), q.get("t"), q.get("t2")

        def digest(sql, key, val):
            return self.db.execute(
                "SELECT count(*), coalesce(sum(%s), 0), coalesce(sum(%s), 0) FROM (%s)"
                % (key, val, sql)).fetchone()
        cents = lambda c: "CAST(round(CAST(%s AS DECIMAL(38,8)), 2) * 100 AS HUGEINT)" % c  # noqa: E731
        kind = q["kind"]
        if kind in ("as_of", "sql_as_of"):
            sql = ("SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY "
                   "update_date DESC, action DESC) rn FROM cl_orders WHERE update_date <= "
                   "CAST('%s' AS TIMESTAMP)) WHERE rn = 1 AND action <> 'delete'" % t)
            return digest(sql, "o_orderkey", cents("o_totalprice"))
        if kind == "latest":
            sql = ("SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY "
                   "update_date DESC, action DESC) rn FROM cl_customer) WHERE rn = 1 AND action <> 'delete'")
            return digest(sql, "c_custkey", cents("c_acctbal"))
        if kind == "changes_between":
            sql = ("SELECT * FROM cl_orders WHERE update_date > CAST('%s' AS TIMESTAMP) AND "
                   "update_date <= CAST('%s' AS TIMESTAMP)" % (t, t2))
            return digest(sql, "o_orderkey", cents("o_totalprice"))
        if kind == "history":
            return digest("SELECT * FROM cl_orders WHERE o_orderkey = %d" % k,
                          "o_orderkey", cents("o_totalprice"))
        if kind == "snapshot_read":
            sql = ("SELECT * FROM (%s) WHERE action <> 'delete' AND o_orderkey >= %d AND o_orderkey < %d"
                   % (self._snapshot_sql("orders"), k, q["k2"]))
            return digest(sql, "o_orderkey", cents("o_totalprice"))
        if kind == "scd2_read":
            sql = ("SELECT o_orderkey, (lead(update_date) OVER w IS NULL AND action <> 'delete') AS cur "
                   "FROM cl_orders WINDOW w AS (PARTITION BY o_orderkey ORDER BY update_date, action)")
            sql = "SELECT * FROM (%s) WHERE o_orderkey >= %d AND o_orderkey < %d" % (sql, k, q["k2"])
            return digest(sql, "o_orderkey", "CASE WHEN cur THEN 100 ELSE 0 END")
        if kind == "agg_read":
            sql = ("SELECT p_brand, count(*) AS n_rows, sum(CAST(p_retailprice AS DECIMAL(38,8))) AS s "
                   "FROM (%s) WHERE action <> 'delete' GROUP BY p_brand" % self._snapshot_sql("part"))
            return digest(sql, "n_rows", cents("s"))
        if kind == "as_of_join":
            # each fact takes the customer version current at its time; a
            # tombstone there means no match (written as a max-version join:
            # DuckDB pushes a filter on the version side below ASOF JOIN)
            sql = ("WITH f AS (SELECT o_orderkey, o_custkey AS c_custkey, update_date AS fact_ts "
                   "FROM cl_orders WHERE action <> 'delete' AND o_orderkey >= %d AND o_orderkey < %d), "
                   "j AS (SELECT f.o_orderkey, f.fact_ts, f.c_custkey, max(c.update_date) AS vt FROM f "
                   "JOIN cl_customer c ON f.c_custkey = c.c_custkey AND c.update_date <= f.fact_ts "
                   "GROUP BY f.o_orderkey, f.fact_ts, f.c_custkey) "
                   "SELECT j.o_orderkey, c.c_acctbal FROM j JOIN cl_customer c ON "
                   "c.c_custkey = j.c_custkey AND c.update_date = j.vt WHERE c.action <> 'delete'"
                   % (k, q["k2"]))
            return digest(sql, "o_orderkey", cents("c_acctbal"))
        raise KeyError(kind)

    def answers(self, files, results, queries):
        """Every answer's digest equals DuckDB's over the envelopes."""
        self._load(files)
        by_id = {q["id"]: q for q in queries}
        fails = []
        for r in results:
            if r.get("error"):
                fails.append("query %d (%s) raised" % (r["id"], r["kind"]))
                continue
            want = tuple(int(x) for x in self._oracle_digest(by_id[r["id"]]))
            got = (r["digest"]["n"], r["digest"]["keys"], r["digest"]["vals"])
            if got != want:
                fails.append("query %d (%s): got %s, oracle %s" % (r["id"], r["kind"], got, want))
        return fails
