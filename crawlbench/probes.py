"""Per-layer probes: timed calls of public functions on a workload's data.

These run only in the traced pass, after the traced query loop, each
under its own job group so the event-log numbers of the queries stay
clean. Sketch cores are timed in the driver on the workload's own
columns, fed in Arrow-batch-sized slices as the executors feed them.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mlrsketch import checkpoint
from mlrsketch.agg import STATE_COL, partial_states
from mlrsketch.sketches import KLL, BloomFilter, HyperLogLog, TDigest, TopKSketch
from mlrsketch.sketches.hashing import hash_strings
from mlrsketch.verbs import exact as ev
from mlrsketch.verbs import sketch as sv

import workloads as wls

BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch in get_spark
MAX_ITEMS = 60_000
REPS = 5


def _median_time(fn, reps: int = REPS) -> float:
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def _sketch_core(name: str, make, feed, items: list, deser, n_items: int) -> dict:
    """update ns/item over ``items`` (one batch each), merge and serde
    cost of two half states, and the full state's size."""
    sk = make()
    t = time.perf_counter()
    for batch in items:
        feed(sk, batch)
    update_s = time.perf_counter() - t
    half = len(items) // 2 or 1
    a, b = make(), make()
    for batch in items[:half]:
        feed(a, batch)
    for batch in items[half:]:
        feed(b, batch)
    sa, sb = a.serialize(), b.serialize()
    merge_s = []
    for _ in range(REPS):
        x, y = deser(sa), deser(sb)
        t = time.perf_counter()
        x.merge(y)
        merge_s.append(time.perf_counter() - t)
    state = sk.serialize()
    serde_s = _median_time(lambda: deser(sk.serialize()))
    return {
        f"sketches.{name}.update_ns_per_item": update_s / max(n_items, 1) * 1e9,
        f"sketches.{name}.merge_us": statistics.median(merge_s) * 1e6,
        f"sketches.{name}.serde_us": serde_s * 1e6,
        f"sketches.{name}.state_bytes": float(len(state)),
    }


def sketch_cores(spark, files: list[str]) -> dict:
    spark.sparkContext.setJobGroup("probe:hashes", "probe")
    hashes = np.asarray(
        spark.read.parquet(*files).select(F.xxhash64("url").alias("h")).limit(MAX_ITEMS)
        .toPandas()["h"], dtype=np.int64)
    tbl = pq.read_table(files, columns=["text", "warc_ts"]).slice(0, MAX_ITEMS)
    lens = pc.utf8_length(tbl["text"]).to_numpy().astype(np.float64)
    secs = (tbl["warc_ts"].cast("int64").to_numpy() // 1_000_000).astype(np.float64)
    texts = tbl["text"].to_pylist()

    def batches(a):
        return [a[i:i + BATCH] for i in range(0, len(a), BATCH)]

    tok_batches, n_tok = [], 0
    for i in range(0, len(texts), 1000):
        c: Counter = Counter()
        for t in texts[i:i + 1000]:
            c.update(t.split(" "))
        vals = np.array(list(c.keys()), dtype=object)
        cnts = np.fromiter(c.values(), dtype=np.int64, count=len(c))
        tok_batches.append((vals, hash_strings(vals), cnts))
        n_tok += int(cnts.sum())
    bloom_proto = BloomFilter.for_capacity(len(hashes), 0.01)
    out = {}
    out |= _sketch_core("hll", lambda: HyperLogLog(p=wls.HLL_P),
                        lambda s, b: s.update_hashes(b), batches(hashes),
                        HyperLogLog.deserialize, len(hashes))
    out |= _sketch_core("kll", lambda: KLL(k=wls.KLL_K), lambda s, b: s.update_batch(b),
                        batches(lens), KLL.deserialize, len(lens))
    out |= _sketch_core("tdigest", lambda: TDigest(delta=200), lambda s, b: s.update_batch(b),
                        batches(secs), TDigest.deserialize, len(secs))
    out |= _sketch_core("topk", lambda: TopKSketch(depth=5, width=wls.CMS_WIDTH,
                                                   capacity=4 * wls.TOP_K + 1024),
                        lambda s, b: s.update_hashed(*b), tok_batches,
                        TopKSketch.deserialize, n_tok)
    out |= _sketch_core("bloom", lambda: BloomFilter(bloom_proto.n_bits, bloom_proto.n_hashes),
                        lambda s, b: s.add_hashes(b), batches(hashes),
                        BloomFilter.deserialize, len(hashes))
    return out


def agg_states(spark, df, key: str | None) -> dict:
    """Size of the partial states the two-level plan shuffles."""
    spark.sparkContext.setJobGroup("probe:partial_states", "probe")
    by = [key] if key else []
    rows = partial_states(df, "url", wls.url_hll_spec(), by=by).collect()
    groups = len({r[key] for r in rows}) if key else 1
    state_bytes = float(sum(len(r[STATE_COL]) for r in rows))
    return {
        "agg.state_rows": float(len(rows)),
        "agg.state_bytes": state_bytes,
        "agg.state_bytes_per_group": state_bytes / max(groups, 1),
    }


def exact_stats1(spark, df, key: str | None) -> dict:
    spark.sparkContext.setJobGroup("probe:stats1", "probe")
    by = [key] if key else []
    s = _median_time(lambda: ev.stats1(df, ["count", "mean", "p50"], ["text_len"], by=by)
                     .write.format("noop").mode("overwrite").save(), reps=3)
    return {"exact.stats1_s": s}


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


def checkpoint_resume(spark, files: list[str], work: str) -> dict:
    """Checkpoint all but the last file, then resume with it pending,
    then resume again with nothing pending."""
    spark.sparkContext.setJobGroup("probe:checkpoint", "probe")
    table, ckpt = os.path.join(work, "probe_table"), os.path.join(work, "probe_ckpt")
    for d in (table, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(table)
    for f in files[:-1]:
        os.link(f, os.path.join(table, os.path.basename(f)))
    spec = wls.url_hll_spec()
    checkpoint.run_resumable_sketch_spec(spark, table, "probe", ckpt, "url", spec)
    before = _dir_bytes(ckpt)
    os.link(files[-1], os.path.join(table, os.path.basename(files[-1])))
    t = time.perf_counter()
    _, recomputed = checkpoint.run_resumable_sketch_spec(spark, table, "probe", ckpt, "url", spec)
    resume_s = time.perf_counter() - t
    written = _dir_bytes(ckpt) - before
    noop_s = _median_time(
        lambda: checkpoint.run_resumable_sketch_spec(spark, table, "probe", ckpt, "url", spec),
        reps=3)
    return {
        "checkpoint.resume_s": resume_s,
        "checkpoint.noop_resume_s": noop_s,
        "checkpoint.bytes_written": float(written),
        "checkpoint.units_recomputed": float(recomputed),
    }


def bloom_probe(spark, files: list[str]) -> dict:
    """Bloom built on the first half of the files (sized for 1% FPR),
    probed with the second half; false positives counted exactly."""
    spark.sparkContext.setJobGroup("probe:bloom", "probe")
    half = max(len(files) // 2, 1)
    first, second = files[:half], files[half:] or files[-1:]
    seen = set(pq.read_table(first, columns=["url"])["url"].to_pylist())
    probe_urls = pq.read_table(second, columns=["url"])["url"].to_pylist()
    new_rows = sum(1 for u in probe_urls if u not in seen)
    proto = BloomFilter.for_capacity(len(seen), 0.01)
    bf = sv.build_bloom(spark.read.parquet(*first), "url",
                        n_bits=proto.n_bits, n_hashes=proto.n_hashes)
    probe_df = spark.read.parquet(*second)
    t = time.perf_counter()
    kept = sv.bloom_filter_new(probe_df, "url", bf).select("url").collect()
    probe_s = time.perf_counter() - t
    return {
        "bloom.probe_s": probe_s,
        "bloom.fp_rate": (new_rows - len(kept)) / new_rows if new_rows else 0.0,
    }
