"""Output checks: each op's result against the DuckDB oracle for that query.

The comparison follows `tools/check_oracle.py`: columns sorted by name,
rows sorted, floats compared bit-exactly, except that the queries on
that tool's ulp-drift allowlist may differ below 12 significant digits.
The allowlist is read from the tool itself so the two cannot drift
apart. Queries without oracle SQL are approximate; they are held to
their pinned accuracy bounds or compared with their exact twin.
"""
import ast
import glob
import math
import os

import duckdb

# Approximate queries: pinned bounds from their specs, or an exact twin.
# q27: the HyperLogLog count within 5% of the exact count beside it
# (Relational2Spec); q87: each sketch quantile's rank within
# n/accuracy + 2 of its target rank (Relational4Spec, accuracy 10000);
# s14: the persisted IVF index returns exactly what the in-memory IVF
# query (s3) returns.
HLL_REL_ERR = 0.05
QUANTILE_ACCURACY = 10000
TWINS = {"s14_ivf_persisted_topk": "s3_ivf_topk"}
# self-test ops are checked against the oracle of the query they wrap
ALIASES = {"inject_wrong": "q1_pricing_summary"}


def ulp_allowlist(root):
    path = os.path.join(root, "tools", "check_oracle.py")
    if not os.path.exists(path):
        return set()
    for node in ast.parse(open(path).read()).body:
        if isinstance(node, ast.Assign) and any(
                getattr(t, "id", None) == "ULP_DRIFT_ALLOWED" for t in node.targets):
            return set(ast.literal_eval(node.value))
    return set()


def _norm(df):
    cols = sorted(df.columns)
    rows = []
    for t in df[cols].itertuples(index=False):
        row = []
        for v in t:
            if isinstance(v, float):
                row.append("nan" if math.isnan(v) else (0.0 if v == 0 else v).hex())
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return cols, sorted(rows)


def _sig12(rows):
    return sorted(tuple(f"{float.fromhex(c):.12g}" if c.startswith(("0x", "-0x")) else c
                        for c in r) for r in rows)


class Checker:
    def __init__(self, root, data_dir, oracle_sql):
        self.allow = ulp_allowlist(root)
        self.oracle = oracle_sql
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for f in glob.glob(os.path.join(data_dir, "*.parquet")):
            name = os.path.basename(f)[:-len(".parquet")]
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
        self._want = {}

    def has_check(self, op):
        op = ALIASES.get(op, op)
        return op in self.oracle or op in TWINS or op in (
            "q27_approx_distinct", "q87_approx_quantiles")

    def _read(self, path):
        return self.con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()

    def check(self, op, path, twin_path=None):
        """None when the output at `path` is right, else why it is not."""
        name = ALIASES.get(op, op)
        got = self._read(path)
        if name in TWINS:
            if twin_path is None:
                return f"no output of twin {TWINS[name]}"
            return self._compare(name, got, self._read(twin_path))
        if name == "q27_approx_distinct":
            bad = got[(got.approx_orders - got.exact_orders).abs()
                      > HLL_REL_ERR * got.exact_orders]
            return None if len(got) and bad.empty else f"HLL error above {HLL_REL_ERR}"
        if name == "q87_approx_quantiles":
            return self._quantiles(got)
        if name not in self._want:
            self._want[name] = self.con.execute(self.oracle[name]).df()
        return self._compare(name, got, self._want[name])

    def _compare(self, name, got, want):
        gc, gr = _norm(got)
        wc, wr = _norm(want)
        if gc != wc:
            return f"columns {gc} != {wc}"
        if len(gr) != len(wr):
            return f"rows {len(gr)} != {len(wr)}"
        if gr == wr:
            return None
        if name in self.allow and _sig12(gr) == _sig12(wr):
            return None
        bad = next((a, b) for a, b in zip(gr, wr) if a != b)
        return f"mismatch, first: {bad}"

    def _quantiles(self, got):
        n_by_type = dict(self.con.execute(
            "SELECT event_type, count(*) FROM events "
            "WHERE value IS NOT NULL AND event_type IS NOT NULL GROUP BY 1").fetchall())
        if sorted(got.event_type) != sorted(n_by_type):
            return f"groups {sorted(got.event_type)} != {sorted(n_by_type)}"
        for r in got.itertuples(index=False):
            n = n_by_type[r.event_type]
            if r.n_events != n:
                return f"{r.event_type}: n_events {r.n_events} != {n}"
            for p, col in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
                a = getattr(r, col)
                rank = self.con.execute(
                    "SELECT count(*) FROM events WHERE event_type = ? AND value <= ?",
                    [r.event_type, a]).fetchone()[0]
                if abs(rank - p * n) > n // QUANTILE_ACCURACY + 2:
                    return f"{r.event_type}.{col}: rank {rank} vs target {p * n}"
        return None
