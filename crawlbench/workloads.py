"""The three workloads: seeded data, fixtures and a fixed query cycle.

Every query goes through the library's public API and returns its
answer to the driver (``collect``), which the loop checks against the
oracle outside the timed span. ``docs`` is the number of input pages a
query consumes.

- ``lang_rollup``: many rows per group (22 lang keys incl. NULL and '').
  Scan, JVM hashing, the Arrow transfer and per-row sketch updates
  dominate; the state shuffle is a few dozen rows.
- ``host_rollup``: hundreds of Zipf hosts parsed from ``url`` JVM-side,
  most with few rows. Per-group cost dominates, and most groups stay in
  the sketches' exact regime.
- ``crawl_ingest``: one arriving segment (a parquet file unit) per
  query; Bloom probe against earlier segments, fused ``sketch_profile``
  (whole texts cross Arrow), and a checkpointed url-HLL resume with the
  segment's unit pending.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import checks as ck
import oracle as orc
import pages

from mlrsketch import checkpoint
from mlrsketch.agg import SketchSpec
from mlrsketch.sketches import BloomFilter, HyperLogLog
from mlrsketch.verbs import exact as ev
from mlrsketch.verbs import sketch as sv

HLL_P = 14  # count_distinct_hll / sketch_profile default precision
KLL_K = 200  # quantiles_kll / sketch_profile default k
CMS_WIDTH = 16384  # sketch_profile default CMS width
TOP_K = 20  # sketch_profile default top-k
QS = (0.5, 0.9, 0.99)  # quantile verbs' default points


@dataclass
class Query:
    kind: str
    docs: int
    run: Callable[[], object]
    check: Callable[[object, ck.Checker], list[str]]
    before: Callable[[], None] | None = None  # untimed staging


def url_hll_spec() -> SketchSpec:
    """The url-HLL spec ``count_distinct_hll`` builds, for the
    checkpoint and ``partial_states`` entry points that take a spec."""
    return SketchSpec(
        make=lambda: HyperLogLog(p=HLL_P),
        update=lambda sk, pdf: sk.update_hashes(pdf["__h"].to_numpy(dtype=np.int64)),
        finalize=lambda sk: pd.DataFrame({"est": [sk.estimate()]}),
        deserialize=HyperLogLog.deserialize,
    )


def _rows(answer) -> list[dict]:
    return [r if isinstance(r, dict) else r.asDict() for r in answer]


def _pages(spark, files):
    return spark.read.parquet(*files).withColumn("text_len", F.length("text"))


def _qcol(q: float) -> str:
    """Output column of quantile q in the quantile verbs (0.5 -> p50)."""
    return f"p{str(q * 100).rstrip('0').rstrip('.').replace('.', '_')}"


def _grouped_check(what: str, key: str, groups: dict, check_row):
    """Check fn for a grouped answer: exact key set (NULL apart from ''),
    then ``check_row(checker, out, label, row, oracle_group)`` per row."""
    def check(c, answer):
        out, rows = [], _rows(answer)
        c.group_keys(out, what, [r[key] for r in rows], groups)
        for r in rows:
            if r[key] in groups:
                check_row(c, out, f"{what}[{r[key]!r}]", r, groups[r[key]])
        return out
    return check


def _distinct_row(c, out, what, r, g):
    c.distinct(out, what, r["distinct_count_est"], r["error_bound"], g["d"], HLL_P)


def _kll_row(c, out, what, r, g):
    for q in QS:
        c.quantile(out, what, "kll", q, r[_qcol(q)], r["rank_error_bound"], g["len"], KLL_K)


class Workload:
    name = ""
    rows = 0
    hosts = 0
    n_files = 4
    group_key: str | None = None
    pass_s = 3.3  # nominal seconds per pass over the query kinds (4-core host)

    def __init__(self, data_dir: str, work_dir: str):
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.files: list[str] = sorted(
            os.path.join(data_dir, f) for f in os.listdir(data_dir) if f.endswith(".parquet"))
        self.oracle: dict = {}

    # -- data (untimed, cached per seed) -------------------------------------
    @classmethod
    def generate(cls, seed: int, data_dir: str) -> None:
        table = pages.generate(seed, cls.rows, cls.hosts)
        bad = pages.check_properties(table, cls.hosts)
        if bad:
            raise RuntimeError("generated table fails its property checks: " + "; ".join(bad))
        pages.write(table, data_dir, cls.n_files)

    def compute_oracle(self) -> dict:
        raise NotImplementedError

    # -- fixtures (timed as set-up) ------------------------------------------
    def setup(self, spark) -> None:
        self.spark = spark
        self.df = _pages(spark, self.files)

    def cycle(self) -> list[Query]:
        raise NotImplementedError


class LangRollup(Workload):
    name = "lang_rollup"
    rows = 50_000
    hosts = 1_000
    n_files = 4
    group_key = "lang"

    def compute_oracle(self):
        return orc.lang_rollup(self.files)

    def cycle(self):
        df, o = self.df, self.oracle
        groups, n = o["by_lang"], o["rows"]

        def tdigest(c, answer):
            rows = _rows(answer)
            if len(rows) != 1:
                return [f"tdigest_ts: {len(rows)} rows, want 1"]
            out = []
            for q in QS:
                c.quantile(out, "tdigest_ts", "tdigest", q, rows[0][_qcol(q)],
                           rows[0]["rank_error_bound"], o["ts"])
            return out

        def stats1_row(c, out, what, r, g):
            c.equal(out, what + ".count", r["text_len_count"], g["n"])
            c.close(out, what + ".mean", r["text_len_mean"], g["mean"])
            c.equal(out, what + ".p50", float(r["text_len_p50"]), g["len"].miller_pick(0.5))

        ts = df.withColumn("ts_s", F.unix_timestamp("warc_ts"))
        return [
            Query("hll", n, lambda: sv.count_distinct_hll(df, "url", by=["lang"]).collect(),
                  _grouped_check("hll_lang", "lang", groups, _distinct_row)),
            Query("kll", n, lambda: sv.quantiles_kll(df, "text_len", by=["lang"]).collect(),
                  _grouped_check("kll_lang", "lang", groups, _kll_row)),
            Query("tdigest", n, lambda: sv.quantiles_tdigest(ts, "ts_s").collect(), tdigest),
            Query("stats1", n, lambda: ev.stats1(
                df, ["count", "mean", "p50"], ["text_len"], by=["lang"]).collect(),
                _grouped_check("stats1_lang", "lang", groups, stats1_row)),
        ]


class HostRollup(Workload):
    name = "host_rollup"
    rows = 8_000
    hosts = 160
    n_files = 4
    group_key = "host"
    # Nominal pass time below the ~3.2 s measured, so that --seconds 16
    # gives six passes (18 queries), not five: with 15 queries the
    # query_tail_s order statistic is the slowest of the five fast
    # stats1 queries, which swung 2x between runs.
    pass_s = 2.7

    def compute_oracle(self):
        return orc.host_rollup(self.files)

    def setup(self, spark):
        super().setup(spark)
        self.df = self.df.withColumn("host", F.expr("parse_url(url, 'HOST')"))

    def cycle(self):
        df, o = self.df, self.oracle
        groups, n = o["by_host"], o["rows"]

        def stats1_row(c, out, what, r, g):
            c.close(out, what + ".p50", r["text_len_p50"], g["p50_interp"])
            c.close(out, what + ".p90", r["text_len_p90"], g["p90_interp"])

        return [
            Query("hll", n, lambda: sv.count_distinct_hll(df, "url", by=["host"]).collect(),
                  _grouped_check("hll_host", "host", groups, _distinct_row)),
            Query("kll", n, lambda: sv.quantiles_kll(df, "text_len", by=["host"]).collect(),
                  _grouped_check("kll_host", "host", groups, _kll_row)),
            Query("stats1", n, lambda: ev.stats1(
                df, ["p50", "p90"], ["text_len"], by=["host"], interpolated=True).collect(),
                _grouped_check("stats1_host", "host", groups, stats1_row)),
        ]


class CrawlIngest(Workload):
    """The first ``BASE_UNITS`` files are the crawl so far; each later
    file is one arriving segment."""

    name = "crawl_ingest"
    rows = 33_000
    hosts = 660
    n_files = 11
    BASE_UNITS = 8
    JOB = "url_hll"

    @property
    def base_files(self):
        return self.files[: self.BASE_UNITS]

    @property
    def segment_files(self):
        return self.files[self.BASE_UNITS:]

    def compute_oracle(self):
        return orc.crawl_ingest(self.base_files, self.segment_files)

    def setup(self, spark):
        super().setup(spark)
        base = _pages(spark, self.base_files)
        proto = BloomFilter.for_capacity(len(self.base_files) * self.rows // self.n_files, 0.01)
        self.bloom = sv.build_bloom(base, "url", n_bits=proto.n_bits, n_hashes=proto.n_hashes)
        # checkpoint of the base units, restored before every resume
        self.table_dir = os.path.join(self.work_dir, "table")
        self.ckpt_seed = os.path.join(self.work_dir, "ckpt_seed")
        self.ckpt = os.path.join(self.work_dir, "ckpt")
        for d in (self.table_dir, self.ckpt_seed, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.table_dir)
        for f in self.base_files:
            os.link(f, os.path.join(self.table_dir, os.path.basename(f)))
        checkpoint.run_resumable_sketch_spec(
            spark, self.table_dir, self.JOB, self.ckpt_seed, "url", url_hll_spec())

    def stage(self, seg_file: str) -> None:
        """Restore the base checkpoint; leave only ``seg_file`` pending."""
        shutil.rmtree(self.ckpt, ignore_errors=True)
        shutil.copytree(self.ckpt_seed, self.ckpt)
        for f in os.listdir(self.table_dir):
            if os.path.join(self.data_dir, f) not in self.base_files:
                os.unlink(os.path.join(self.table_dir, f))
        os.link(seg_file, os.path.join(self.table_dir, os.path.basename(seg_file)))

    def resume(self):
        return checkpoint.run_resumable_sketch_spec(
            self.spark, self.table_dir, self.JOB, self.ckpt, "url", url_hll_spec())

    def cycle(self):
        out_q = []
        for seg_file, so in zip(self.segment_files, self.oracle["segments"]):
            seg = _pages(self.spark, [seg_file])

            def bloom(c, rows, so=so):
                out = []
                c.bloom_new(out, "bloom_new", [r["url"] for r in rows], so["seen_urls"],
                            so["urls"], so["new_rows"])
                return out

            def profile(c, rows, so=so):
                rows = _rows(rows)
                if len(rows) != 1:
                    return [f"profile: {len(rows)} rows, want 1"]
                r, out = rows[0], []
                c.distinct(out, "profile.url", r["url_distinct_est"], r["url_distinct_bound"],
                           so["d"], HLL_P)
                for q in QS:
                    c.quantile(out, "profile.len", "kll", q, r["len_" + _qcol(q)],
                               r["len_rank_bound"], so["len"], KLL_K)
                c.top_k(out, "profile.tokens", r["top_tokens"], r["top_counts"],
                        so["tokens"], TOP_K, CMS_WIDTH)
                return out

            def resume(c, res, so=so):
                sk, recomputed = res
                out = []
                c.equal(out, "resume.units_recomputed", recomputed, 1)
                c.distinct(out, "resume.url", sk.estimate(), sk.error_bound(),
                           so["union_d"], HLL_P)
                return out

            n = so["n"]
            out_q += [
                Query("bloom", n, lambda seg=seg: sv.bloom_filter_new(
                    seg, "url", self.bloom).select("url").collect(), bloom),
                Query("profile", n, lambda seg=seg: sv.sketch_profile(seg).collect(), profile),
                Query("resume", n, self.resume, resume,
                      before=lambda f=seg_file: self.stage(f)),
            ]
        return out_q


WORKLOADS = {w.name: w for w in (LangRollup, HostRollup, CrawlIngest)}
