"""Exact answers for a generated workload table, computed with DuckDB.

The oracle is computed once per (workload, seed) and pickled beside the
data, so no timed run pays for it. Group keys keep NULL distinct from
'': DuckDB groups NULL as its own key and the dicts below key it as
``None``.

Per group the oracle keeps the row count, the distinct-url count, the
mean text length and the text-length histogram (sorted distinct values
and their counts); quantile checks derive ranks from the histogram.
"""

from __future__ import annotations

import duckdb
import numpy as np


class Hist:
    """Sorted distinct values with counts: exact ranks and order stats."""

    __slots__ = ("values", "counts", "cum", "n")

    def __init__(self, values, counts):
        order = np.argsort(values, kind="stable")
        self.values = np.asarray(values, dtype=np.float64)[order]
        self.counts = np.asarray(counts, dtype=np.int64)[order]
        self.cum = np.cumsum(self.counts)
        self.n = int(self.cum[-1]) if self.cum.size else 0

    def rank_interval(self, v: float) -> tuple[float, float]:
        """[P(X < v), P(X <= v)] — tie-aware, since values repeat."""
        lo = np.searchsorted(self.values, v, side="left")
        hi = np.searchsorted(self.values, v, side="right")
        below = self.cum[lo - 1] if lo else 0
        upto = self.cum[hi - 1] if hi else 0
        return below / self.n, upto / self.n

    def order_stat(self, i: int) -> float:
        """The i-th smallest value, 0-based."""
        return float(self.values[np.searchsorted(self.cum, i, side="right")])

    def miller_pick(self, p: float) -> float:
        """Miller's non-interpolated percentile: sorted[clamp(int(p*n), 0, n-1)]."""
        return self.order_stat(min(max(int(np.floor(p * self.n)), 0), self.n - 1))

    def kll_exact(self, q: float) -> float:
        """The answer KLL gives while it holds every item (n <= k): the
        first item whose cumulative count reaches q*n."""
        return self.order_stat(min(max(int(np.ceil(q * self.n)) - 1, 0), self.n - 1))


def _groups(con, sql: str) -> dict:
    """Rows (key, n, d, mean) -> {key: dict}."""
    return {
        k: {"n": int(n), "d": int(d), "mean": float(m)}
        for k, n, d, m in con.execute(sql).fetchall()
    }


def _hists(con, sql: str) -> dict:
    """Rows (key, value, count) -> {key: Hist}."""
    rows = con.execute(sql).fetchall()
    by: dict = {}
    for k, v, c in rows:
        by.setdefault(k, ([], []))
        by[k][0].append(v)
        by[k][1].append(c)
    return {k: Hist(v, c) for k, (v, c) in by.items()}


def _grouped(con, table: str, key: str) -> dict:
    groups = _groups(
        con,
        f"SELECT {key} AS k, count(*), count(DISTINCT url), avg(length(text)) "
        f"FROM {table} GROUP BY 1",
    )
    hists = _hists(
        con, f"SELECT {key} AS k, length(text), count(*) FROM {table} GROUP BY 1, 2"
    )
    for k, g in groups.items():
        g["len"] = hists[k]
    return groups


HOST_SQL = r"regexp_extract(url, '^https://([^/]+)/', 1)"


def lang_rollup(files: list[str]) -> dict:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet({files!r})")
    ts = con.execute(
        "SELECT epoch(warc_ts)::BIGINT AS v, count(*) AS c FROM t GROUP BY 1"
    ).fetchnumpy()
    return {
        "rows": int(con.execute("SELECT count(*) FROM t").fetchone()[0]),
        "by_lang": _grouped(con, "t", "lang"),
        "ts": Hist(ts["v"], ts["c"]),
    }


def host_rollup(files: list[str]) -> dict:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT *, {HOST_SQL} AS host FROM read_parquet({files!r})")
    by_host = _grouped(con, "t", "host")
    for k, p50, p90 in con.execute(
        "SELECT host, quantile_cont(length(text), 0.5), quantile_cont(length(text), 0.9) "
        "FROM t GROUP BY 1"
    ).fetchall():
        by_host[k]["p50_interp"] = float(p50)
        by_host[k]["p90_interp"] = float(p90)
    return {
        "rows": int(con.execute("SELECT count(*) FROM t").fetchone()[0]),
        "by_host": by_host,
    }


def crawl_ingest(base_files: list[str], segment_files: list[str]) -> dict:
    """Per arriving segment: which of its urls the base already holds,
    its exact profile (distinct urls, lengths, token counts) and the
    distinct urls of base + segment (the checkpointed HLL's answer)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW base AS SELECT url FROM read_parquet({base_files!r})")
    segs = []
    for f in segment_files:
        con.execute(f"CREATE OR REPLACE VIEW seg AS SELECT * FROM read_parquet('{f}')")
        n, d = con.execute("SELECT count(*), count(DISTINCT url) FROM seg").fetchone()
        urls = {u for (u,) in con.execute("SELECT DISTINCT url FROM seg").fetchall()}
        seen = {
            u for (u,) in con.execute(
                "SELECT DISTINCT url FROM seg WHERE url IN (SELECT url FROM base)"
            ).fetchall()
        }
        new_rows = con.execute(
            "SELECT count(*) FROM seg WHERE url NOT IN (SELECT url FROM base)"
        ).fetchone()[0]
        lens = con.execute("SELECT length(text) AS v, count(*) AS c FROM seg GROUP BY 1").fetchnumpy()
        tok = con.execute(
            "SELECT tok, count(*) FROM (SELECT unnest(string_split(text, ' ')) AS tok "
            "FROM seg) GROUP BY 1"
        ).fetchall()
        union_d = con.execute(
            "SELECT count(DISTINCT url) FROM (SELECT url FROM base UNION ALL SELECT url FROM seg)"
        ).fetchone()[0]
        segs.append({
            "file": f,
            "n": int(n),
            "d": int(d),
            "urls": urls,
            "seen_urls": seen,
            "new_rows": int(new_rows),
            "len": Hist(lens["v"], lens["c"]),
            "tokens": {t: int(c) for t, c in tok},
            "union_d": int(union_d),
        })
    return {"segments": segs}
