"""Seeded input generators for the three workloads, cached on disk by seed.

Graph and crawl inputs come from numpy alone (no ``ligra_spark`` code), so
a change to ``ligra_spark.rmat`` or ``ligra_spark.fixtures`` cannot change
them.  The image corpus is encoded with the repository's own encoders; its
sha256 is recorded so an encoder change shows as a changed digest.

Each generator returns a dict of numpy arrays / lists plus the path of the
parquet table the benchmark's set-up reads.  Generation runs before set-up
and is not part of ``setup_s``.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

# bump when a generator changes, so stale caches are not reused
VERSION = 1

# rmat_frontier: R-MAT 2^14 vertices, 10 raw edges per vertex, Ligra's
# (a, b, c) = (0.5, 0.1, 0.1); symmetrized (no self-loops, deduplicated)
RMAT_LOG_N = 14
RMAT_EDGE_FACTOR = 10
RMAT_ABC = (0.5, 0.1, 0.1)

# crawl_pagerank: hosts of 16 pages each
CRAWL_HOSTS = 256
PAGES_PER_HOST = 16
CRAWL_MEAN_LINKS = 8
CRAWL_OFFSITE_P = 0.12   # share of links that leave the crawl
CRAWL_SAMEHOST_P = 0.45  # share of in-crawl links that stay on the host
CRAWL_REPEAT_P = 0.08    # share of links written twice on the page

# media_decode: 64x64 RGB images, JPEG majority
MEDIA_IMAGES = 160
MEDIA_SIDE = 64
MEDIA_FORMATS = ("jpeg",) * 7 + ("webp", "gif", "png")
JPEG_QUANT = 8

_VOCAB = (
    "graph vertex edge frontier crawl page link anchor host rank spark "
    "shuffle partition join superstep label component triangle delta "
    "image codec pixel table query plan stage task index token corpus"
).split()


def cache_dir(bench_dir: str) -> str:
    d = os.path.join(bench_dir, ".cache")
    os.makedirs(d, exist_ok=True)
    return d


def _write_parquet(path: str, columns: dict, files: int = 1) -> None:
    """Write ``columns`` as ``files`` parquet files under directory
    ``path`` (rows dealt round-robin, so each file is a similar mix)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    n = len(next(iter(columns.values())))
    for f in range(files):
        idx = np.arange(f, n, files)
        tbl = pa.table({k: _take(v, idx) for k, v in columns.items()})
        pq.write_table(tbl, os.path.join(tmp, f"part-{f:03d}.parquet"))
    os.replace(tmp, path)


def _take(col, idx):
    import pyarrow as pa

    if isinstance(col, np.ndarray):
        return col[idx]
    if isinstance(col, pa.Array):
        return col.take(pa.array(idx))
    return [col[i] for i in idx]


def _cached(bench_dir: str, name: str, seed: int, build) -> dict:
    """Build once per (name, seed, VERSION); keep arrays in an .npz and
    the rest in JSON next to the parquet table."""
    base = os.path.join(cache_dir(bench_dir), f"{name}-v{VERSION}-seed{seed}")
    meta_path = base + ".json"
    if not os.path.exists(meta_path):
        data = build(np.random.default_rng([VERSION, seed]), base + ".parquet")
        arrays = {k: v for k, v in data.items() if isinstance(v, np.ndarray)}
        rest = {k: v for k, v in data.items() if not isinstance(v, np.ndarray)}
        np.savez(base + ".npz", **arrays)
        with open(meta_path + ".tmp", "w") as f:
            json.dump(rest, f)
        os.replace(meta_path + ".tmp", meta_path)
    with open(meta_path) as f:
        data = json.load(f)
    with np.load(base + ".npz", allow_pickle=False) as z:
        data.update({k: z[k] for k in z.files})
    data["table"] = base + ".parquet"
    return data


# ---------------------------------------------------------------- R-MAT
def _rmat(rng, log_n: int, m: int, abc) -> tuple[np.ndarray, np.ndarray]:
    a, b, c = abc
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    for _ in range(log_n):
        r = rng.random(m)
        down = r >= a + b                       # quadrants c, d
        right = ((r >= a) & (r < a + b)) | (r >= a + b + c)  # quadrants b, d
        src = (src << 1) | down
        dst = (dst << 1) | right
    return src, dst


def _symmetrize(n: int, src: np.ndarray, dst: np.ndarray):
    keep = src != dst
    s = np.concatenate([src[keep], dst[keep]])
    d = np.concatenate([dst[keep], src[keep]])
    key = np.unique(s * n + d)
    return key // n, key % n


def rmat_inputs(bench_dir: str, seed: int) -> dict:
    def build(rng, table):
        n = 1 << RMAT_LOG_N
        s, d = _rmat(rng, RMAT_LOG_N, RMAT_EDGE_FACTOR * n, RMAT_ABC)
        src, dst = _symmetrize(n, s, d)
        _write_parquet(table, {"src": src, "dst": dst}, files=4)
        return {"n": n, "src": src, "dst": dst}

    return _cached(bench_dir, "rmat", seed, build)


# ---------------------------------------------------------------- crawl
def _token(rng, k: int) -> str:
    return "".join(chr(97 + int(c)) for c in rng.integers(0, 26, k))


def _words(rng, lo: int, hi: int) -> str:
    return " ".join(_VOCAB[int(i)] for i in rng.integers(0, len(_VOCAB), rng.integers(lo, hi)))


def crawl_inputs(bench_dir: str, seed: int) -> dict:
    """Common-Crawl-style pages table (url, warc_ts, html, lang).

    Urls are random host and path tokens, so generation order is not
    lexicographic order and the dense-id check means something.  The
    expected outputs are kept in generation ids: ``text[i]`` (what the
    extractor must return for page i) and the in-crawl link multiset
    ``(src, dst)``; ``url_rank`` maps a generation id to its
    lexicographic rank, the id the ingest must assign."""

    def build(rng, table):
        import pyarrow as pa

        hosts: list[str] = []
        seen = set()
        while len(hosts) < CRAWL_HOSTS:
            h = f"{_token(rng, int(rng.integers(5, 10)))}.{('com', 'org', 'net')[int(rng.integers(0, 3))]}"
            if h not in seen:
                seen.add(h)
                hosts.append(h)
        n = CRAWL_HOSTS * PAGES_PER_HOST
        urls, seen = [], set()
        for i in range(n):
            while True:
                u = f"https://{hosts[i // PAGES_PER_HOST]}/{_token(rng, 3)}/{_token(rng, 6)}.html"
                if u not in seen:
                    break
            seen.add(u)
            urls.append(u)
        # popularity skew for cross-host targets: Zipf ranks over a
        # random permutation of the pages
        popular = rng.permutation(n)
        html, text, src, dst = [], [], [], []
        for i in range(n):
            k = int(min(rng.geometric(1.0 / CRAWL_MEAN_LINKS), 48))
            hrefs = []
            for _ in range(k):
                if rng.random() < CRAWL_OFFSITE_P:
                    hrefs.append((f"https://{_token(rng, 7)}.offsite.test/{_token(rng, 5)}", -1))
                    continue
                if rng.random() < CRAWL_SAMEHOST_P:
                    t = (i // PAGES_PER_HOST) * PAGES_PER_HOST + int(rng.integers(0, PAGES_PER_HOST))
                else:
                    t = int(popular[(int(rng.zipf(1.6)) - 1) % n])
                hrefs.append((urls[t], t))
                if rng.random() < CRAWL_REPEAT_P:
                    hrefs.append((urls[t], t))
            title = f"Page {_token(rng, 8)}"
            paras = [_words(rng, 8, 24) for _ in range(int(rng.integers(1, 4)))]
            anchors = [f"{_VOCAB[int(rng.integers(0, len(_VOCAB)))]} {j}" for j in range(len(hrefs))]
            doc = [f"<html><head><title>{title}</title></head><body>"]
            doc += [f"<p>{p}</p>" for p in paras]
            doc += [f'<a href="{u}">{a}</a>' for (u, _), a in zip(hrefs, anchors)]
            doc.append("</body></html>")
            html.append("".join(doc).encode())
            text.append("\n".join([title] + paras + anchors))
            for _, t in hrefs:
                if t >= 0:
                    src.append(i)
                    dst.append(t)
        rank = np.empty(n, dtype=np.int64)
        rank[np.argsort(np.array(urls, dtype=object), kind="stable")] = np.arange(n)
        ts = 1_700_000_000_000_000 + rng.integers(0, 86_400_000_000, n)
        _write_parquet(
            table,
            {
                "url": urls,
                "warc_ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
                "html": pa.array(html, type=pa.binary()),
                "lang": ["en"] * n,
            },
            files=4,
        )
        return {
            "n": n,
            "urls": urls,
            "text": text,
            "url_rank": rank,
            "src": np.asarray(src, dtype=np.int64),
            "dst": np.asarray(dst, dtype=np.int64),
            "html_bytes": int(sum(len(h) for h in html)),
        }

    return _cached(bench_dir, "crawl", seed, build)


# ---------------------------------------------------------------- media
def _picture(rng, side: int) -> np.ndarray:
    """Smooth two-colour gradient, a few soft discs, mild noise: photo-like
    entropy rather than flat colour or white noise."""
    y, x = np.mgrid[0:side, 0:side].astype(np.float64) / side
    ang = rng.uniform(0, 2 * np.pi)
    t = np.cos(ang) * x + np.sin(ang) * y
    t = (t - t.min()) / max(np.ptp(t), 1e-9)
    c0, c1 = rng.uniform(0, 255, 3), rng.uniform(0, 255, 3)
    img = c0 + t[..., None] * (c1 - c0)
    for _ in range(int(rng.integers(2, 5))):
        cy, cx, r = rng.uniform(0, 1), rng.uniform(0, 1), rng.uniform(0.08, 0.3)
        w = np.exp(-((x - cx) ** 2 + (y - cy) ** 2) / (2 * r * r))
        img += w[..., None] * (rng.uniform(0, 255, 3) - img)
    img += rng.normal(0, 4, img.shape)
    return np.clip(np.rint(img), 0, 255).astype(np.uint8)


def media_inputs(bench_dir: str, seed: int) -> dict:
    """(media_id, format, payload) table plus the source pixels.

    GIF sources are drawn from a 64-colour palette (GIF is indexed);
    the other formats encode the full RGB picture."""

    def build(rng, table):
        from ligra_spark.functions.gif import encode_gif
        from ligra_spark.functions.jpeg import encode_jpeg_baseline
        from ligra_spark.functions.png import encode_png
        from ligra_spark.functions.webp import encode_webp_lossless

        fmts, payloads, pixels = [], [], []
        for i in range(MEDIA_IMAGES):
            fmt = MEDIA_FORMATS[i % len(MEDIA_FORMATS)]
            img = _picture(rng, MEDIA_SIDE)
            if fmt == "jpeg":
                buf = encode_jpeg_baseline(img, quant=JPEG_QUANT)
            elif fmt == "webp":
                buf = encode_webp_lossless(img)
            elif fmt == "png":
                buf = encode_png(img)
            else:
                palette = np.clip(
                    np.linspace(rng.uniform(0, 255, 3), rng.uniform(0, 255, 3), 64), 0, 255
                ).astype(np.uint8)
                idx = (img.astype(np.int64).sum(axis=2) * 64 // 766).astype(np.uint8)
                buf = encode_gif(idx, palette)
                img = palette[idx]
            fmts.append(fmt)
            payloads.append(buf)
            pixels.append(img)
        ids = np.arange(MEDIA_IMAGES, dtype=np.int64)
        _write_parquet(table, {"media_id": ids, "format": fmts, "payload": payloads}, files=4)
        return {
            "n": MEDIA_IMAGES,
            "format": fmts,
            "pixels": np.stack(pixels),
            "payload_sizes": np.array([len(p) for p in payloads], dtype=np.int64),
            "payload_blob": np.frombuffer(b"".join(payloads), dtype=np.uint8),
            "sha256": corpus_sha256(payloads),
        }

    data = _cached(bench_dir, "media", seed, build)
    blob = data["payload_blob"].tobytes()
    ends = np.cumsum(data["payload_sizes"])
    data["payloads"] = [blob[e - s : e] for s, e in zip(data["payload_sizes"].tolist(), ends.tolist())]
    return data


def corpus_sha256(payloads) -> str:
    """Digest of the corpus: sha256 over the per-image sha256s, in id order."""
    digest = hashlib.sha256()
    for p in payloads:
        digest.update(hashlib.sha256(p).digest())
    return digest.hexdigest()
