"""Seeded, vectorized Common-Crawl-style pages generator.

Writes parquet files with the FIXTURES.md section 1 schema
(url, warc_ts, html, text, lang) from three arguments: seed, rows and
hosts. Every column is drawn with numpy and assembled with pyarrow
compute kernels (about 3 s for 200k rows on 4 cores); the library's own
``mlrsketch.pages`` draws one RNG per row in Python and fixes its seed.

Distributions:
- host: Zipf(1.2) folded onto ``hosts`` values (head host ~18% of rows);
- url: ``https://host{h}.example.com/{base36 path}``, one path per
  content id; ~2% of rows re-emit an earlier row whole (duplicate urls);
- lang: P(en)=0.55, ru .12, de .08, ja .06, fr .05, zh .05, the rest
  spread over 14 more codes, of which 0.4% of rows are NULL and 0.4%
  are '' (unknown language), so NULL and empty group keys both occur;
- text: lognormal(4, 1) tokens per page clipped to [1, 5000], tokens
  Zipf(1.3) over a 50k-word vocabulary ``w0..w49999``;
- warc_ts: uniform seconds over [2025-01-01, 2025-12-31) UTC;
- html: the text wrapped in fixed markup, as utf-8 bytes.

``check_properties`` verifies those properties on a generated table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB_SIZE = 50_000
LANGS = ["en", "ru", "de", "ja", "fr", "zh", "es", "pt", "it", "nl",
         "pl", "tr", "ar", "ko", "hi", "sv", "fi", "cs", "el", "he"]
NULL_LANG_P = 0.004
EMPTY_LANG_P = 0.004
_REST_P = (0.09 - NULL_LANG_P - EMPTY_LANG_P) / 14
LANG_P = [0.55, 0.12, 0.08, 0.06, 0.05, 0.05] + [_REST_P] * 14
DUP_P = 0.02
HOST_ZIPF = 1.2
TOKEN_ZIPF = 1.3
TS0 = np.datetime64("2025-01-01T00:00:00", "s")
TS_SPAN_S = 364 * 24 * 3600
_HTML_HEAD = "<html><head><title>synthetic</title></head><body><p>"
_HTML_TAIL = "</p><footer>boilerplate</footer></body></html>"
_B36 = np.frombuffer(b"0123456789abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def _base36(values: np.ndarray, width: int) -> pa.Array:
    """Fixed-width base36 spelling of non-negative ints, vectorized."""
    digits = np.empty((values.size, width), dtype=np.uint8)
    v = values.astype(np.int64).copy()
    for j in range(width - 1, -1, -1):
        digits[:, j] = _B36[v % 36]
        v //= 36
    return pa.array(digits.view(f"S{width}").ravel()).cast(pa.string())


def _zipf_bounded(rng, s: float, n_values: int, size: int) -> np.ndarray:
    """Zipf(s) ranks 0..n_values-1 by inverse CDF. A 2^20-bin guide table
    answers most draws with one lookup; only draws whose bin spans
    several ranks (the far tail) fall back to a binary search."""
    cdf = np.cumsum(np.arange(1, n_values + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    bins = 1 << 20
    edges = np.arange(bins + 1, dtype=np.float64) / bins
    first = np.searchsorted(cdf, edges, side="right")
    u = rng.random(size)
    b = (u * bins).astype(np.int64)
    out = first[b]
    wide = np.flatnonzero(first[b + 1] != out)
    out[wide] = np.searchsorted(cdf, u[wide], side="right")
    return np.minimum(out, n_values - 1)


def _lang_array(codes: np.ndarray) -> pa.Array:
    """Category codes -> lang strings; code 20 is NULL, 21 is ''."""
    names = pa.array(LANGS + [None, ""], type=pa.string())
    return names.take(pa.array(codes))


def generate(seed: int, rows: int, hosts: int) -> pa.Table:
    """One pages table as an Arrow table; same (seed, rows, hosts) gives
    the same bytes."""
    rng = np.random.default_rng(seed)
    # content id per row: duplicates re-emit an earlier row's content
    cid = np.arange(rows, dtype=np.int64)
    dup = rng.random(rows) < DUP_P
    dup[0] = False
    di = np.flatnonzero(dup)
    cid[di] = (rng.random(di.size) * di).astype(np.int64)  # uniform earlier row
    while True:  # resolve chains so every row points at an original
        nxt = cid[cid]
        if np.array_equal(nxt, cid):
            break
        cid = nxt

    host = (rng.zipf(HOST_ZIPF, rows) - 1) % hosts
    lang_codes = rng.choice(
        22, size=rows, p=LANG_P + [NULL_LANG_P, EMPTY_LANG_P]
    ).astype(np.int32)
    ts = rng.integers(0, TS_SPAN_S, rows)
    n_tok = np.clip(rng.lognormal(4.0, 1.0, rows), 1, 5000).astype(np.int64)
    path_off = int(rng.integers(0, 36**6))
    # per-content token streams: originals draw, duplicates copy
    n_tok = n_tok[cid]
    offsets = np.zeros(rows + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    tok_ids = _zipf_bounded(rng, TOKEN_ZIPF, VOCAB_SIZE, int(offsets[-1]))
    # duplicates take the token slice of their original
    src_start = offsets[:-1][cid]
    gather = np.repeat(src_start - offsets[:-1], n_tok) + np.arange(offsets[-1])
    tok_ids = tok_ids[gather]

    vocab = pa.array([f"w{i}" for i in range(VOCAB_SIZE)], type=pa.string())
    tokens = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()),
                                      vocab.take(pa.array(tok_ids)))
    text = pc.binary_join(tokens, " ")
    host_c = pa.array(host[cid]).cast(pa.string())
    url = pc.binary_join_element_wise(
        "https://host", host_c, ".example.com/",
        _base36(path_off + cid, 7), "")
    html = pc.binary_join_element_wise(_HTML_HEAD, text, _HTML_TAIL, "").cast(pa.binary())
    warc_ts = pa.array(TS0 + ts[cid], type=pa.timestamp("us", tz="UTC"))
    return pa.table({
        "url": url,
        "warc_ts": warc_ts,
        "html": html,
        "text": text,
        "lang": _lang_array(lang_codes[cid]),
    })


def write(table: pa.Table, out_dir: str, files: int, prefix: str = "part") -> list[str]:
    """Split the table into ``files`` contiguous parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    paths = []
    for i in range(files):
        p = os.path.join(out_dir, f"{prefix}-{i:04d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        paths.append(p)
    return paths


def check_properties(table: pa.Table, hosts: int) -> list[str]:
    """Distribution checks on a generated table; returns the failures."""
    n = table.num_rows
    bad = []
    url = table["url"].to_numpy(zero_copy_only=False)
    dup_share = 1.0 - np.unique(url).size / n
    if not 0.01 <= dup_share <= 0.03:
        bad.append(f"duplicate url share {dup_share:.4f} outside [0.01, 0.03]")
    lang = table["lang"]
    en = pc.sum(pc.equal(lang, "en")).as_py() / n
    if abs(en - 0.55) > 0.02:
        bad.append(f"P(en)={en:.4f}, want 0.55")
    if lang.null_count == 0 or pc.sum(pc.equal(lang, "")).as_py() == 0:
        bad.append("lang lacks a NULL or an empty group")
    host = pc.extract_regex(table["url"], r"^https://host(?P<h>\d+)\.")
    host = pc.struct_field(host, "h").cast(pa.int64()).to_numpy()
    counts = np.bincount(host, minlength=hosts)
    head = counts.max() / n
    want_head = 1.0 / _zeta(HOST_ZIPF)
    if abs(head - want_head) > 0.03:
        bad.append(f"head host share {head:.4f}, want ~{want_head:.3f}")
    if n >= 20 * hosts and np.count_nonzero(counts) < 0.9 * hosts:
        bad.append("fewer than 90% of hosts present")
    n_tok = pc.list_value_length(pc.split_pattern(table["text"], " ")).to_numpy()
    med = float(np.median(n_tok))
    if not np.exp(4.0) * 0.85 <= med <= np.exp(4.0) * 1.15:
        bad.append(f"median tokens/page {med:.1f}, want ~{np.exp(4.0):.1f} (lognormal mu=4)")
    ts = table["warc_ts"].cast(pa.int64()).to_numpy() // 1_000_000
    lo, hi = TS0.astype(np.int64), TS0.astype(np.int64) + TS_SPAN_S
    if ts.min() < lo or ts.max() >= hi:
        bad.append("warc_ts outside [2025-01-01, 2025-12-31)")
    head_html = table["html"][0].as_py()
    if head_html != (_HTML_HEAD + table["text"][0].as_py() + _HTML_TAIL).encode():
        bad.append("html does not wrap text")
    return bad


def _zeta(s: float, terms: int = 200_000) -> float:
    k = np.arange(1, terms + 1, dtype=np.float64)
    return float(np.sum(k**-s) + terms ** (1 - s) / (s - 1))
