"""Bound-aware answer checks against the DuckDB oracle.

Pass rules:

- Exact regime — a reported bound of 0, or a group below the sketch's
  capacity (HLL: at most p-dependent ``sparse_max`` distinct values;
  KLL: at most k items) — must equal the oracle exactly.
- Exact verbs: counts and picks equal, means within a relative 1e-9.
- Approximate regime: the pass line comes from the error distribution
  the sketch publishes, read as a zero-mean normal:
    * HLL: ``error_bound`` = 1.04/sqrt(m) is one standard error;
    * KLL (2/k) and t-digest (``rank_error_bound``) publish an envelope,
      read as the two-sided 99% point, so sigma = envelope / 2.576.
  The line is z * sigma with z set so that a correct program fails a run
  with probability below 1e-4: that budget is split evenly over the three
  families, and within a family over ``CHECK_BUDGET`` distinct checks
  (Bonferroni). Repeated identical answers are one check. Quantile
  errors are rank errors against the tie-aware interval
  [P(X < v), P(X <= v)], since text lengths repeat.
- CMS top-k: every estimate satisfies exact <= est <= exact + e/w * N,
  and no returned token's exact count is below the true k-th count
  minus e/w * N.
- Bloom: no false negatives.

``Checker`` accumulates the observed errors so the run can report
``distinct_rel_err``, ``rank_err``, ``bound_use_max`` per family and the
share of answers in an exact regime.
"""

from __future__ import annotations

import math
from statistics import NormalDist

RUN_FALSE_FAIL = 1e-4
FAMILIES = ("hll", "kll", "tdigest")
CHECK_BUDGET = {"hll": 200, "kll": 5000, "tdigest": 500}
ENVELOPE_QUANTILE = NormalDist().inv_cdf(0.995)  # two-sided 99%
MEAN_RTOL = 1e-9


def z_line(family: str) -> float:
    alpha = RUN_FALSE_FAIL / len(FAMILIES) / CHECK_BUDGET[family]
    return NormalDist().inv_cdf(1.0 - alpha / 2.0)


Z = {f: z_line(f) for f in FAMILIES}


def hll_sparse_max(p: int) -> int:
    return (1 << p) // 4


class Checker:
    """Collects failures and error statistics for one run."""

    def __init__(self):
        self.seen: dict[str, set] = {f: set() for f in FAMILIES}
        self.distinct_errs: list[float] = []
        self.rank_errs: list[float] = []
        self.bound_use: dict[str, float] = {f: 0.0 for f in (*FAMILIES, "cms")}
        self.exact_answers = 0
        self.approx_answers = 0

    # -- bookkeeping -------------------------------------------------------
    def _count_check(self, family: str, slot, value) -> None:
        self.seen[family].add((slot, value))

    def over_budget(self) -> list[str]:
        return [
            f"{f}: {len(s)} distinct checks exceed the budget {CHECK_BUDGET[f]}"
            for f, s in self.seen.items() if len(s) > CHECK_BUDGET[f]
        ]

    # -- group sets --------------------------------------------------------
    def group_keys(self, out, what: str, got: list, want) -> None:
        got_set, want_set = set(got), set(want)
        if len(got) != len(got_set):
            out.append(f"{what}: duplicate group keys")
        if got_set != want_set:
            missing = sorted(map(repr, want_set - got_set))[:3]
            extra = sorted(map(repr, got_set - want_set))[:3]
            out.append(f"{what}: group keys differ; missing {missing} extra {extra}")

    # -- exact verbs -------------------------------------------------------
    def equal(self, out, what: str, got, want) -> None:
        if got != want:
            out.append(f"{what}: got {got!r}, want {want!r}")

    def close(self, out, what: str, got, want, rtol: float = MEAN_RTOL) -> None:
        if got is None or not math.isclose(got, want, rel_tol=rtol, abs_tol=0.0):
            out.append(f"{what}: got {got!r}, want {want!r} (rtol {rtol})")

    # -- HLL ---------------------------------------------------------------
    def distinct(self, out, what: str, est: float, bound: float, exact: int, p: int) -> None:
        if bound == 0.0 or exact <= hll_sparse_max(p):
            self.exact_answers += 1
            if bound != 0.0 or est != exact:
                out.append(f"{what}: exact regime, got {est} (bound {bound}), want {exact}")
            return
        self.approx_answers += 1
        rel = abs(est - exact) / exact
        self.distinct_errs.append(rel)
        self.bound_use["hll"] = max(self.bound_use["hll"], rel / bound)
        self._count_check("hll", what, est)
        if rel > Z["hll"] * bound:
            out.append(f"{what}: rel err {rel:.5f} > {Z['hll']:.2f} x {bound:.5f}")

    # -- quantiles ---------------------------------------------------------
    def quantile(self, out, what: str, family: str, q: float, est: float,
                 envelope: float, hist, exact_capacity: int | None = None) -> None:
        if exact_capacity is not None and hist.n <= exact_capacity:
            self.exact_answers += 1
            want = hist.kll_exact(q)
            if est != want:
                out.append(f"{what}: exact regime (n={hist.n}), got {est}, want {want}")
            return
        self.approx_answers += 1
        lo, hi = hist.rank_interval(est)
        err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
        self.rank_errs.append(err)
        self.bound_use[family] = max(self.bound_use[family], err / envelope)
        self._count_check(family, (what, q), est)
        line = Z[family] * envelope / ENVELOPE_QUANTILE
        if err > line:
            out.append(f"{what} q={q}: rank err {err:.5f} > line {line:.5f}")

    # -- CMS top-k ---------------------------------------------------------
    def top_k(self, out, what: str, tokens: list, counts: list, exact: dict,
              k: int, width: int) -> None:
        n_total = sum(exact.values())
        slack = math.e / width * n_total
        true_counts = sorted(exact.values(), reverse=True)
        if len(tokens) != min(k, len(true_counts)):
            out.append(f"{what}: {len(tokens)} tokens, want {min(k, len(true_counts))}")
            return
        kth = true_counts[k - 1] if len(true_counts) >= k else 0
        for tok, est in zip(tokens, counts):
            c = exact.get(tok, 0)
            if slack:
                self.bound_use["cms"] = max(self.bound_use["cms"], (est - c) / slack)
            if not c <= est <= c + slack:
                out.append(f"{what}: token {tok!r} est {est} outside [{c}, {c + slack:.0f}]")
            if c < kth - slack:
                out.append(f"{what}: token {tok!r} count {c} below k-th {kth} - {slack:.0f}")

    # -- Bloom -------------------------------------------------------------
    def bloom_new(self, out, what: str, kept_urls: list, seen: set, seg_urls: set,
                  new_rows: int) -> None:
        fn = [u for u in kept_urls if u in seen]
        if fn:
            out.append(f"{what}: {len(fn)} already-seen urls kept (false negatives)")
        stray = [u for u in kept_urls if u not in seg_urls]
        if stray:
            out.append(f"{what}: {len(stray)} kept urls not in the segment")
        if len(kept_urls) > new_rows:
            out.append(f"{what}: kept {len(kept_urls)} rows > {new_rows} new rows")

    # -- summary -----------------------------------------------------------
    def summary(self) -> dict:
        def mean(xs):
            return sum(xs) / len(xs) if xs else 0.0

        answers = self.exact_answers + self.approx_answers
        out = {
            "check.distinct_rel_err": mean(self.distinct_errs),
            "check.rank_err": mean(self.rank_errs),
            "check.exact_regime_share": self.exact_answers / answers if answers else 0.0,
        }
        for f, v in self.bound_use.items():
            out[f"check.bound_use_max.{f}"] = v
        return out
