"""``table_lifecycle``: writes beside reads on one transactional table.

Set-up seeds a txlog table from the fixture ``lineitem`` (stats and CDF
on) with the single-column row key ``l_key`` derived from
``(l_orderkey, l_linenumber)`` (see :func:`make_inputs`), and starts a
CDC pipe at the seeded version into an empty sink table, so the sink
holds every row the timed ops inserted or updated that is still live.
Each round then runs, in a closed loop:

  append, keyed merge, conditional MERGE INTO (SQL front door),
  deletion-vector UPDATE, DELETE WHERE, settle, copy-on-write delete,
  merge-on-read delete, full read, stats-pruned read, pipe tick, settle

and after the last round: compact, vacuum, time-travel read.

The two ``settle`` ops exist because merge-on-read deletes (equality
tombstones) and deletion vectors refuse to coexist with the ops that
follow them today; each settles the pending deletes before the next
op that would refuse them, so the user-level intent of every op stays
the same if the delete mechanism changes.

Every op's inputs are parquet files made from the seed in set-up. A
DuckDB replay applies the same op list to the same files; each read is
checked against the replay's state at that point, and the final
snapshot, the time-travel snapshot and the sink are checked row for
row at the end.
"""

from __future__ import annotations

import os
import random

#: key shift for appended rows; each round gets its own multiple
SHIFT = 10**7
#: each round's merges, updates and deletes hit keys of one seeded window
#: of consecutive order keys (about 2% of the table), so stats pruning
#: decides how many files an op rewrites
HOT_ORDERS = 3000
N_APPEND_ORDERS = 500
N_MERGE_ORDERS = 250
N_NEW_ORDERS = 50
N_DELETE_ORDERS = 250
WINDOW_ORDERS = 250
PRUNED_READ_ORDERS = 1000
MERGE_INTO_DELETE_QTY = 40
SEED_FILES = 16

COMMIT_OPS = {
    "append", "merge", "merge_into", "update", "delete_where", "settle",
    "delete_cow", "delete_mor", "compact",
}
READ_OPS = {"read_full", "read_pruned", "read_tt"}

#: txlog per-layer metric name for each op
OP_METRIC = {
    "append": "append", "merge": "merge", "merge_into": "merge_into",
    "update": "update", "delete_where": "delete", "delete_cow": "delete",
    "delete_mor": "delete", "settle": "delete", "compact": "compact",
    "vacuum": "vacuum",
}

TABLE_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate", "l_key",
]


def plan(seed: int, orderkeys: "list[int]", rounds: int) -> "list[dict]":
    """The seeded op list. Pure: the same seed and key list give the
    same specs. An input is a list of parts ``{"orders", "keys",
    "transform"}`` that :func:`make_inputs` materializes; ``keys`` is
    ``"same"`` (existing rows), ``"near_new"`` (new keys next to
    existing ones) or ``"shifted"`` (new keys past every existing one).
    """
    rng = random.Random(seed)
    keys = sorted(orderkeys)
    specs: "list[dict]" = []

    def window(pool, n):
        n = min(n, len(pool))  # small fixtures have fewer orders
        i = rng.randrange(0, len(pool) - n + 1)
        return pool[i:i + n]

    def key_range(oks):
        return oks[0] * 64, oks[-1] * 64 + 63

    def part(orders, keys="same", transform="none", shift=0):
        return {"orders": orders, "keys": keys, "transform": transform, "shift": shift}

    for r in range(rounds):
        tag = f"r{r}"
        hot = window(keys, HOT_ORDERS)

        def pick(n):
            return sorted(rng.sample(hot, n))

        specs += [
            {"op": "append", "input": f"{tag}_append",
             "parts": [part(sorted(rng.sample(keys, N_APPEND_ORDERS)), "shifted",
                            shift=SHIFT * (1 + r))]},
            {"op": "merge", "input": f"{tag}_merge",
             "parts": [part(pick(N_MERGE_ORDERS), transform="merge"),
                       part(pick(N_NEW_ORDERS), "near_new")]},
            {"op": "merge_into", "input": f"{tag}_merge_into",
             "parts": [part(pick(N_MERGE_ORDERS), transform="merge_into"),
                       part(pick(N_NEW_ORDERS), "near_new")]},
            {"op": "update", "window": key_range(window(hot, WINDOW_ORDERS))},
            {"op": "delete_where", "window": key_range(window(hot, WINDOW_ORDERS))},
            {"op": "settle"},
            {"op": "delete_cow", "input": f"{tag}_delete_cow",
             "parts": [part(pick(N_DELETE_ORDERS), transform="keys")]},
            {"op": "delete_mor", "input": f"{tag}_delete_mor",
             "parts": [part(pick(N_DELETE_ORDERS), transform="keys")]},
            {"op": "read_full"},
            {"op": "read_pruned", "window": key_range(window(keys, PRUNED_READ_ORDERS))},
            {"op": "tick"},
            {"op": "settle"},
        ]
    specs += [{"op": "compact"}, {"op": "vacuum"}, {"op": "read_tt"}]
    return specs


def prepare_base(con, sf_dir: str, base_dir: str) -> None:
    """Write the keyed seed table once: ``base.parquet``, and the same
    rows split by key range into ``SEED_FILES`` files under ``seed/``.

    ``(l_orderkey, l_linenumber)`` is not unique in the fixture (up to 6
    rows share it), so the row key also numbers duplicates in file
    order: ``l_key = (l_orderkey * 8 + l_linenumber) * 8 + dup``."""
    done = os.path.join(base_dir, "done")
    if os.path.exists(done):
        return
    seed_dir = os.path.join(base_dir, "seed")
    os.makedirs(seed_dir, exist_ok=True)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(base_dir, "base.parquet")
    con.execute(
        f"COPY (SELECT {', '.join(TABLE_COLS[:-1])}, "
        "(l_orderkey * 8 + l_linenumber) * 8 + row_number() OVER "
        "(PARTITION BY l_orderkey, l_linenumber ORDER BY file_row_number) - 1 "
        f"AS l_key FROM read_parquet('{li}', file_row_number = true) "
        f"ORDER BY file_row_number) TO '{base}' (FORMAT PARQUET)"
    )
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE seed_t AS SELECT *, ntile({SEED_FILES}) "
        f"OVER (ORDER BY l_key) AS part FROM read_parquet('{base}')"
    )
    for i in range(1, SEED_FILES + 1):
        con.execute(
            f"COPY (SELECT {', '.join(TABLE_COLS)} FROM seed_t WHERE part = {i} "
            f"ORDER BY l_key) TO '{seed_dir}/part-{i:02d}.parquet' (FORMAT PARQUET)"
        )
    with open(done, "w"):
        pass


def make_inputs(con, base_dir: str, inputs_dir: str, specs: "list[dict]") -> None:
    """Write every spec's input rows as one parquet file (set-up). A
    "near_new" key takes a row with ``dup = 0`` and sets ``dup = 7``,
    which no fixture row has."""
    os.makedirs(inputs_dir, exist_ok=True)
    base = os.path.join(base_dir, "base.parquet")
    for s in specs:
        if "parts" not in s:
            continue
        selects = []
        for p in s["parts"]:
            cols = {c: c for c in TABLE_COLS}
            where = f"l_orderkey IN ({', '.join(str(int(k)) for k in p['orders'])})"
            if p["keys"] == "shifted":
                cols["l_orderkey"] = f"l_orderkey + {p['shift']}"
                cols["l_key"] = f"l_key + {p['shift'] * 64}"
            elif p["keys"] == "near_new":
                cols["l_key"] = "l_key + 7"
                where += " AND l_key % 8 = 0"
            if p["transform"] == "merge":
                cols["l_quantity"] = "l_quantity + 1.0"
                cols["l_linestatus"] = "'M'"
            elif p["transform"] == "merge_into":
                cols["l_extendedprice"] = "l_extendedprice * 2.0"
            elif p["transform"] == "keys":
                cols = {"l_key": "l_key"}
            sel = ", ".join(f"{e} AS {c}" for c, e in cols.items())
            selects.append(f"SELECT {sel} FROM read_parquet('{base}') WHERE {where}")
        out = os.path.join(inputs_dir, s["input"] + ".parquet")
        con.execute(
            f"COPY ({' UNION ALL '.join(selects)} ORDER BY l_key) TO '{out}' "
            "(FORMAT PARQUET)"
        )


def read_agg(df):
    """The aggregate every read op forces and the replay checks."""
    from pyspark.sql import functions as F

    return sorted(
        (r[0], int(r[1]), int(r[2]), float(r[3]))
        for r in df.groupBy("l_linestatus")
        .agg(F.count(F.lit(1)), F.sum("l_key"), F.sum("l_quantity"))
        .collect()
    )


# ------------------------------------------------------------ replay

_NORM = ", ".join(
    "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate" if c == "l_shipdate" else c
    for c in TABLE_COLS
)


def _agg_sql(table: str, where: str = "true") -> str:
    return (
        f"SELECT l_linestatus, count(*), sum(l_key), sum(l_quantity) "
        f"FROM {table} WHERE {where} GROUP BY l_linestatus"
    )


def replay(con, base_dir: str, inputs_dir: str, specs: "list[dict]") -> dict:
    """Apply ``specs`` to a DuckDB copy of the seeded table.

    Returns ``reads`` (the expected aggregate of each read op, in op
    order), ``changed`` (rows logically changed by each commit op) and
    leaves tables ``t`` (final state) and ``sink`` (state at the last
    pipe tick: the live rows whose key an op inserted or updated) in
    ``con``."""
    con.execute("SET TimeZone = 'UTC'")
    base = os.path.join(base_dir, "base.parquet")
    con.execute(
        f"CREATE OR REPLACE TABLE t AS SELECT {_NORM} FROM read_parquet('{base}')"
    )
    con.execute("CREATE OR REPLACE TABLE sink AS SELECT * FROM t WHERE false")
    con.execute("CREATE OR REPLACE TABLE touched (l_key BIGINT)")
    reads: "list[list]" = []
    changed: "list[int]" = []

    def src(s):
        p = os.path.join(inputs_dir, s["input"] + ".parquet")
        if s["parts"][0]["transform"] == "keys":
            return f"(SELECT l_key FROM read_parquet('{p}'))"
        return f"(SELECT {_NORM} FROM read_parquet('{p}'))"

    def count(where):
        return con.execute(f"SELECT count(*) FROM t WHERE {where}").fetchone()[0]

    for s in specs:
        op = s["op"]
        if op == "append":
            n = con.execute(f"SELECT count(*) FROM {src(s)}").fetchone()[0]
            con.execute(f"INSERT INTO t SELECT * FROM {src(s)}")
            con.execute(f"INSERT INTO touched SELECT l_key FROM {src(s)}")
            changed.append(n)
        elif op == "merge":
            con.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM {src(s)}")
            con.execute("DELETE FROM t WHERE l_key IN (SELECT l_key FROM s)")
            con.execute("INSERT INTO t SELECT * FROM s")
            con.execute("INSERT INTO touched SELECT l_key FROM s")
            changed.append(con.execute("SELECT count(*) FROM s").fetchone()[0])
        elif op == "merge_into":
            con.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM {src(s)}")
            con.execute(
                "CREATE OR REPLACE TEMP TABLE m AS SELECT s.* FROM s "
                "JOIN t USING (l_key)"
            )
            n_del = count(
                f"l_key IN (SELECT l_key FROM m WHERE l_quantity > "
                f"{MERGE_INTO_DELETE_QTY})"
            )
            con.execute(
                f"DELETE FROM t WHERE l_key IN (SELECT l_key FROM m WHERE "
                f"l_quantity > {MERGE_INTO_DELETE_QTY})"
            )
            n_upd = count("l_key IN (SELECT l_key FROM m)")
            con.execute(
                "UPDATE t SET l_extendedprice = m.l_extendedprice, "
                "l_linestatus = 'S' FROM m WHERE t.l_key = m.l_key"
            )
            n_ins = con.execute(
                "SELECT count(*) FROM s WHERE l_key NOT IN (SELECT l_key FROM m)"
            ).fetchone()[0]
            con.execute(
                "INSERT INTO t SELECT * FROM s "
                "WHERE l_key NOT IN (SELECT l_key FROM m)"
            )
            con.execute(
                "INSERT INTO touched SELECT l_key FROM s WHERE l_key NOT IN "
                f"(SELECT l_key FROM m WHERE l_quantity > {MERGE_INTO_DELETE_QTY})"
            )
            changed.append(n_del + n_upd + n_ins)
        elif op == "update":
            lo, hi = s["window"]
            where = f"l_key BETWEEN {lo} AND {hi}"
            changed.append(count(where))
            con.execute(f"INSERT INTO touched SELECT l_key FROM t WHERE {where}")
            con.execute(
                "UPDATE t SET l_discount = l_discount + CAST(0.01 AS DOUBLE), "
                f"l_linestatus = 'D' WHERE {where}"
            )
        elif op == "delete_where":
            lo, hi = s["window"]
            where = f"l_key BETWEEN {lo} AND {hi} AND l_returnflag = 'R'"
            changed.append(count(where))
            con.execute(f"DELETE FROM t WHERE {where}")
        elif op in ("delete_cow", "delete_mor"):
            where = f"l_key IN {src(s)}"
            changed.append(count(where))
            con.execute(f"DELETE FROM t WHERE {where}")
        elif op in ("settle", "compact"):
            changed.append(0)
        elif op in ("read_full", "read_tt"):
            reads.append(sorted(map(tuple, con.execute(_agg_sql("t")).fetchall())))
        elif op == "read_pruned":
            lo, hi = s["window"]
            reads.append(sorted(map(tuple, con.execute(
                _agg_sql("t", f"l_key BETWEEN {lo} AND {hi}")
            ).fetchall())))
        elif op == "tick":
            con.execute(
                "CREATE OR REPLACE TABLE sink AS SELECT * FROM t "
                "WHERE l_key IN (SELECT l_key FROM touched)"
            )
    return {"reads": reads, "changed": changed}


def snapshot_diff(con, got_glob: str, snap: str, want_table: str) -> "tuple[int, int]":
    """(rows only in Spark's export of ``snap``, rows only in the replay
    table), as multisets. Equal row counts and hash sums, both computed
    by DuckDB, stand for equality; otherwise the rows are diffed."""
    cols = ", ".join(TABLE_COLS)
    got = (
        f"(SELECT {cols} FROM (SELECT {_NORM} FROM read_parquet('{got_glob}') "
        f"WHERE snap = '{snap}'))"
    )
    want = f"(SELECT {cols} FROM {want_table})"

    def fp(rel):
        return con.execute(
            f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {rel}"
        ).fetchone()

    if fp(got) == fp(want):
        return 0, 0
    extra = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0]
    return extra, missing
