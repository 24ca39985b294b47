"""``headline_sf0.1`` and ``headline_sf0.001``: the frozen ``bench.HEADLINE``
queries, each constructed and then forced with a noop write.

Output check. Each timed write carries a Spark ``Observation`` that
fingerprints the rows it wrote (row count, two sums and an xor of the
row's ``xxhash64``), so the very rows of every op are checked without
a second execution. The reference fingerprint of a query is certified
once per checkout: the query's rows are collected and compared
bit-exactly (``scripts/strict_check.py`` ``norm``/``multiset``) against
its DuckDB oracle, and only a query that matches gets a fingerprint.
Oracle rows and certificates are cached under the work directory,
keyed by a hash of the program's sources and the fixtures. Every run
also repeats the full oracle comparison for one query picked by the
seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random


def fingerprint_exprs(df):
    from pyspark.sql import functions as F

    h = F.xxhash64(*[df[c] for c in df.columns])
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.sum(F.shiftrightunsigned(h, 32)).alias("hi"),
        F.bit_xor(h).alias("x"),
    ]


def fingerprint_of(obs) -> "list[int]":
    got = obs.get
    return [int(got["n"]), int(got["lo"] or 0), int(got["hi"] or 0), int(got["x"] or 0)]


def query_order(names: "list[str]", seed: int, passes: int) -> "list[list[str]]":
    """One seeded permutation of the query list per pass."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out


def source_key(root: str, sf_dir: str) -> str:
    """Hash of everything a certificate depends on: the package, the
    oracle discipline, this file and the fixture bytes."""
    h = hashlib.sha256()
    paths = []
    for base in ("distributed_mapreduce__spark",):
        for d, _, files in os.walk(os.path.join(root, base)):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    paths += [
        os.path.join(root, "bench.py"),
        os.path.join(root, "scripts", "strict_check.py"),
        os.path.abspath(__file__),
    ]
    paths += [
        os.path.join(sf_dir, f) for f in os.listdir(sf_dir) if f.endswith(".parquet")
    ]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


class Certifier:
    """Oracle rows and certified fingerprints for one sf, cached on disk."""

    def __init__(self, cache_dir: str, sf_dir: str):
        self.cache_dir = cache_dir
        self.sf_dir = sf_dir
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.cache_dir, f"{name}.oracle.json")

    def _load(self, name: str) -> "dict | None":
        try:
            with open(self._path(name)) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None

    def oracle(self, name: str) -> dict:
        """``{"cols", "multiset"}`` of the DuckDB oracle (cached)."""
        rec = self._load(name)
        if rec is not None:
            return rec
        from distributed_mapreduce__spark import registry
        from scripts.strict_check import multiset
        from tests.oracle_utils import duck_connect

        if self._con is None:
            self._con = duck_connect(self.sf_dir)
        res = self._con.execute(registry.resolve_oracle(name))
        cols = [c[0].lower() for c in res.description]
        rec = {
            "cols": sorted(cols),
            "multiset": [list(r) for r in multiset(res.fetchall(), cols)],
        }
        self._save(name, rec)
        return rec

    def _save(self, name: str, rec: dict) -> None:
        tmp = self._path(name) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(rec, fh)
        os.replace(tmp, self._path(name))

    def compare(self, spark, name: str) -> "tuple[bool, str, list[int] | None]":
        """Construct ``name`` afresh, collect it with a fingerprint and
        compare it bit-exactly against the oracle. Returns (ok, message,
        fingerprint)."""
        from pyspark.sql import Observation

        from distributed_mapreduce__spark import registry
        from scripts.strict_check import multiset

        ref = self.oracle(name)
        df = registry.resolve(name)(spark, self.sf_dir)
        obs = Observation(f"cert_{name}")
        rows = [tuple(r) for r in df.observe(obs, *fingerprint_exprs(df)).collect()]
        cols = [c.lower() for c in df.columns]
        fp = fingerprint_of(obs)
        if sorted(cols) != ref["cols"]:
            return False, f"schema {sorted(cols)} != oracle {ref['cols']}", fp
        if not rows and not ref["multiset"]:
            return False, "vacuous: 0 rows on both sides", fp
        got = [list(r) for r in multiset(rows, cols)]
        if got != ref["multiset"]:
            return False, f"{len(rows)} spark rows vs {len(ref['multiset'])} oracle rows differ", fp
        return True, f"{len(rows)} rows bit-exact", fp

    def certificate(self, spark, name: str) -> "tuple[list[int] | None, str]":
        """The certified fingerprint of ``name``, certifying it now if
        the cache has none. None if the query does not match its
        oracle."""
        path = os.path.join(self.cache_dir, f"{name}.fingerprint.json")
        try:
            with open(path) as fh:
                return json.load(fh), "cached"
        except (OSError, ValueError):
            pass
        ok, msg, fp = self.compare(spark, name)
        if not ok:
            return None, msg
        with open(path, "w") as fh:
            json.dump(fp, fh)
        return fp, f"certified: {msg}"
