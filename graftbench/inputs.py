"""Seeded input generators for the graft benchmark.

Every input is a pure function of the workload's seed and size, so the same
seed gives the same files. The engine only reads what is written here.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2026 = 1767225600  # 2026-01-01T00:00:00Z
HOSTS = 97
ZIPF_ALPHA = 3.0


def _write(table, directory):
    os.makedirs(directory, exist_ok=True)
    pq.write_table(table, os.path.join(directory, "part-00000.parquet"))


def zipf_targets(rng, n, count):
    """Link targets drawn by inverse CDF from a power law over [0, n): low ids
    get most of the in-links, the skew of a web crawl."""
    u = rng.random(count)
    return np.minimum(np.floor(u ** ZIPF_ALPHA * n).astype(np.int64), n - 1)


def long_id_edges(seed, n, degree, directory):
    """Directed (src, dst) long-id edge table: `degree` Zipf targets per vertex,
    the shape of the pages graph without any strings."""
    rng = np.random.default_rng([seed, 1])
    src = np.repeat(np.arange(n, dtype=np.int64), degree)
    dst = zipf_targets(rng, n, n * degree)
    _write(pa.table({"src": src, "dst": dst}), directory)
    return src, dst


def url_of(i):
    return f"https://host{i % HOSTS}.example/p/{i}"


def pages(seed, n, directory):
    """Pages table with the schema of the crawl input (url, warc_ts, html,
    text, lang): out-degree 3..8, Zipf targets, a few body words per page.
    Returns the directed (src, dst) page-id links the html encodes."""
    rng = np.random.default_rng([seed, 2])
    degree = 3 + rng.integers(0, 6, size=n)
    targets = zipf_targets(rng, n, int(degree.sum()))
    words = rng.integers(0, 500, size=(n, 12))
    nwords = 5 + rng.integers(0, 8, size=n)
    urls, html, text = [], [], []
    src = np.repeat(np.arange(n, dtype=np.int64), degree)
    pos = 0
    for i in range(n):
        d = int(degree[i])
        ts = targets[pos:pos + d]
        pos += d
        title = f"Page {i}"
        body = " ".join(f"w{w}" for w in words[i, :nwords[i]])
        anchors = "".join(f'<a href="{url_of(int(t))}">link{k}</a>'
                          for k, t in enumerate(ts))
        links = " ".join(f"link{k}" for k in range(d))
        urls.append(url_of(i))
        html.append((f"<html><head><title>{title}</title></head><body><p>"
                     f"{body}</p>{anchors}</body></html>").encode())
        text.append(f"{title} {body} {links}")
    ts = (EPOCH_2026 + np.arange(n, dtype=np.int64)) * 1_000_000
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([("en", "es", "de", "fr")[i % 4] for i in range(n)],
                         pa.string()),
    })
    _write(table, directory)
    return src, targets


def lineitem(seed, rows, orders, parts, path):
    """A lineitem table of `rows` line items over `orders` orders and `parts`
    parts, in the columns the registry's graph queries read."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table({
        "l_orderkey": rng.integers(0, orders, size=rows, dtype=np.int64),
        "l_partkey": rng.integers(1, parts + 1, size=rows, dtype=np.int64),
        "l_suppkey": rng.integers(1, 11, size=rows, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, size=rows, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, size=rows).astype(np.float64),
    })
    pq.write_table(table, path)
