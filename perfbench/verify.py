"""Output checks of the graft benchmark.

Each checked output (a parquet directory the engine wrote) is compared
with its catalog entry's oracle SQL, run by DuckDB over the same
generated tables, using the canon and dtype-kind rules of the engine's
own correctness gate, tools/check.py (imported, not copied): same column
set, same row count, every value equal (floats bit-exact), no
oracle output type the gate's type lint bans, and no int/float/object
kind drift.

An oracle's result depends only on the contents of the tables, so results
are cached under a key made of the SQL text and an order-independent
fingerprint of every table (row count and the sum of row hashes): the
seeded variants are row permutations of one another and share it.
"""
import glob
import hashlib
import importlib.util
import os

import duckdb
import numpy as np
import pandas as pd

from inputs import TABLES


def load_check_rules(root):
    """tools/check.py of the checkout at `root`, as a module."""
    path = os.path.join(root, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check_rules", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def read_output(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(rules, got, want):
    """None if `got` matches `want` under the gate's rules, else why not."""
    kind_bad = [(c, str(got[c].dtype), str(want[c].dtype))
                for c in got.columns if c in want.columns
                if len(got) > 0 and len(want) > 0
                and rules.dtype_kind(got[c]) != rules.dtype_kind(want[c])]
    if kind_bad:
        return f"dtype-kind drift {kind_bad}"
    g, w = rules.canon(got), rules.canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"{len(g)} rows, oracle has {len(w)}"
    for c in g.columns:
        a, b = g[c].values, w[c].values
        if (np.issubdtype(g[c].dtype, np.floating)
                or np.issubdtype(w[c].dtype, np.floating)):
            af = pd.to_numeric(g[c]).values.astype(float)
            bf = pd.to_numeric(w[c]).values.astype(float)
            eq = (np.isnan(af) & np.isnan(bf)) | (af == bf)
        else:
            eq = (pd.isna(g[c]).values & pd.isna(w[c]).values) | (a == b)
        if not eq.all():
            i = int(np.argmin(eq))
            return f"column {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None


class Checker:
    """Runs each oracle once per input directory and checks outputs."""

    def __init__(self, root, data_dir, oracles, temp_dir, cache_dir):
        self.rules = load_check_rules(root)
        self.oracles = oracles
        self.cache_dir = cache_dir
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self.fingerprint = repr([self.con.execute(
            f"SELECT count(*), sum(hash({t})::HUGEINT)::VARCHAR FROM {t}").fetchall()
            for t in TABLES])
        self.wants = {}

    def want(self, name):
        if name not in self.wants:
            sql = self.oracles[name]
            key = hashlib.sha256((sql + self.fingerprint).encode()).hexdigest()
            path = os.path.join(self.cache_dir, f"{name}-{key[:24]}.pkl")
            if os.path.exists(path):
                self.wants[name] = pd.read_pickle(path)
            else:
                lint = self.rules.lint_oracle_types(self.con, name, sql)
                if lint:
                    raise ValueError(lint)
                want = self.con.execute(sql).fetchdf()
                os.makedirs(self.cache_dir, exist_ok=True)
                want.to_pickle(path + ".tmp")
                os.replace(path + ".tmp", path)
                self.wants[name] = want
        return self.wants[name]

    def check(self, name, path):
        """None if the output at `path` equals oracle `name`, else why not."""
        if name not in self.oracles:
            return f"no oracle SQL for {name}"
        got = read_output(path) if path else None
        if got is None:
            return "no output written"
        try:
            want = self.want(name)
        except Exception as e:  # an oracle that cannot run checks nothing
            return f"oracle failed: {e}"
        return compare(self.rules, got, want)
