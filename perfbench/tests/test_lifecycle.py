"""The ``table_lifecycle`` DuckDB replay.

``test_replay_matches_python_model`` checks the replay's SQL against a
plain-Python model of every op on the sf0.001 fixture.
``test_spark_run_matches_replay`` runs one real round through the
engine on the sf0.001 table and requires every op and every snapshot
to agree with the replay.
"""

import os
import shutil

import duckdb
import pyarrow.parquet as pq

import lifecycle as lc

SF = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "sf0.001")


def _orderkeys():
    t = pq.read_table(os.path.join(SF, "lineitem.parquet"), columns=["l_orderkey"])
    return sorted(set(t.column(0).to_pylist()))


def test_plan_is_seeded():
    keys = _orderkeys()
    a, b = lc.plan(7, keys, 2), lc.plan(7, keys, 2)
    assert a == b
    assert a != lc.plan(8, keys, 2)
    ops = [s["op"] for s in a]
    assert ops.count("tick") == 2
    assert ops[-3:] == ["compact", "vacuum", "read_tt"]


def _rows(path):
    return {r["l_key"]: r for r in pq.read_table(path).to_pylist()}


def _model(base_dir, inputs, specs):
    """Plain-Python semantics of each op: {l_key: row}."""
    t = _rows(os.path.join(base_dir, "base.parquet"))
    reads, sink, touched = [], {}, set()

    def src(s):
        return _rows(os.path.join(inputs, s["input"] + ".parquet"))

    def agg(rows):
        out = {}
        for r in rows:
            a = out.setdefault(r["l_linestatus"], [0, 0, 0.0])
            a[0] += 1
            a[1] += r["l_key"]
            a[2] += r["l_quantity"]
        return sorted((k, n, sk, q) for k, (n, sk, q) in out.items())

    for s in specs:
        op = s["op"]
        if op in ("append", "merge"):
            t.update(src(s))
            touched.update(src(s))
        elif op == "merge_into":
            for k, r in src(s).items():
                if k not in t:
                    t[k] = r
                elif r["l_quantity"] > lc.MERGE_INTO_DELETE_QTY:
                    del t[k]
                    continue
                else:
                    t[k] = {**t[k], "l_extendedprice": r["l_extendedprice"], "l_linestatus": "S"}
                touched.add(k)
        elif op == "update":
            lo, hi = s["window"]
            for k in [k for k in t if lo <= k <= hi]:
                t[k] = {**t[k], "l_discount": t[k]["l_discount"] + 0.01, "l_linestatus": "D"}
                touched.add(k)
        elif op == "delete_where":
            lo, hi = s["window"]
            for k in [k for k, r in t.items() if lo <= k <= hi and r["l_returnflag"] == "R"]:
                del t[k]
        elif op in ("delete_cow", "delete_mor"):
            for k in src(s):
                t.pop(k, None)
        elif op in ("read_full", "read_tt"):
            reads.append(agg(t.values()))
        elif op == "read_pruned":
            lo, hi = s["window"]
            reads.append(agg(r for k, r in t.items() if lo <= k <= hi))
        elif op == "tick":
            sink = {k: r for k, r in t.items() if k in touched}
    return t, sink, reads


def test_replay_matches_python_model(tmp_path):
    specs = lc.plan(3, _orderkeys(), 2)
    base_dir, inputs = str(tmp_path / "base"), str(tmp_path / "inputs")
    con = duckdb.connect()
    lc.prepare_base(con, SF, base_dir)
    lc.make_inputs(con, base_dir, inputs, specs)
    rep = lc.replay(con, base_dir, inputs, specs)
    t, sink, reads = _model(base_dir, inputs, specs)
    assert rep["reads"] == reads
    cols = ", ".join(lc.TABLE_COLS)

    def state(table):
        return {r[-1]: r for r in con.execute(f"SELECT {cols} FROM {table}").fetchall()}

    got_t, got_sink = state("t"), state("sink")
    assert set(got_t) == set(t) and set(got_sink) == set(sink)
    assert 0 < len(sink) < len(t)
    for k, r in t.items():
        assert got_t[k][4:10] == tuple(r[c] for c in lc.TABLE_COLS[4:10]), k
    # the ops changed something, and the deletes removed rows
    assert sum(rep["changed"]) > 0
    n_base = pq.ParquetFile(os.path.join(base_dir, "base.parquet")).metadata.num_rows
    assert len(t) != n_base
    # l_key is unique in the seed even though (orderkey, linenumber) is not
    base = pq.read_table(os.path.join(base_dir, "base.parquet")).column("l_key").to_pylist()
    assert len(base) == len(set(base))
    # the key-range split holds the same rows, in key order per file
    parts = sorted(os.listdir(os.path.join(base_dir, "seed")))
    assert len(parts) == lc.SEED_FILES
    split = [pq.read_table(os.path.join(base_dir, "seed", p)).column("l_key").to_pylist()
             for p in parts]
    assert sorted(k for ks in split for k in ks) == sorted(base)
    assert all(a[-1] < b[0] for a, b in zip(split, split[1:]))


def test_spark_run_matches_replay():
    import run as bench_run

    r = bench_run.Run("table_lifecycle", 3, 40, False)
    r.sf_name = "sf0.001"
    r.prepare_env()
    try:
        bench_run.run_lifecycle(r)
    finally:
        if r.spark is not None:
            r.spark.stop()
        shutil.rmtree(r.work, ignore_errors=True)
    assert [o["name"] for o in r.ops if not o["ok"]] == [], [o.get("error") for o in r.ops]
    assert r.extra["snapshot_checks"] == {
        k: {"extra": 0, "missing": 0} for k in ("final", "time_travel", "sink")
    }
    lcm = r.extra["lifecycle_e2e"]
    assert lcm["commit_p50_s"]["n"] == 10 and lcm["read_p50_s"]["n"] == 3
    assert lcm["written_mb"]["value"] > 0 and lcm["stored_mb"]["value"] > 0
