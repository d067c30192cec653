"""Seeded, cached benchmark inputs.

Pages come from a fixed pool built once per checkout with the repo's own
generator (`sources.pages.make_page`, fixed pool seed). Raster pages cost
the generator about 1.5 s each, so per-seed generation of a realistic kind
mix would dominate every run; the seed instead picks, orders and mutates
pool rows. The per-kind row counts are fixed (the pool's own kind shares
scaled to the workload size), so a seed changes which documents run, not
how much raster work there is. Picking a batch takes milliseconds, so the
crawl batches are not cached.

The `documents` / `embeddings` tables for the dedup workload are made
with numpy (fixed seed) in the sf directory layout the operators read,
once per checkout like the pool: their DuckDB oracle is slow (see
workloads.dedup_base), and the seed has nothing to vary that the
operators' row-order-free results would show.

Every cache entry is keyed by workload + size + generator version (no
entry depends on the seed); the generator version hashes the generator's
source files and this file, so an edited generator never reuses a stale
cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from datetime import timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POOL_SEED = 4242
POOL_PAGES = 2400
PAGE_KINDS = ("html", "pdf", "image", "scanned_pdf", "scanned_image")

# files whose bytes define what the generators produce
_GENERATOR_FILES = (
    "horizon_ocr_python_spark/sources/pages.py",
    "horizon_ocr_python_spark/sources/_png_doc_image.py",
    "horizon_ocr_python_spark/kernel/pdf_text.py",
    "horizon_ocr_python_spark/kernel/glyphs.py",
    "horizon_ocr_python_spark/kernel/jpeg.py",
    "horizon_ocr_python_spark/kernel/png.py",
)

PAGE_COLUMNS = ("url", "warc_ts", "html", "text", "lang", "kind")
_PAGE_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ("kind", pa.string()),
])


def generator_version(root: str) -> str:
    h = hashlib.sha256()
    for rel in _GENERATOR_FILES + (os.path.relpath(__file__, root),):
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:12]


class Cache:
    """<root>/.perfbench/cache/<key>/ directories, written atomically (a
    crashed generation leaves only a *.tmp directory, never a half entry)."""

    def __init__(self, repo_root: str, work: str):
        self.dir = os.path.join(work, "cache")
        self.version = generator_version(repo_root)
        os.makedirs(self.dir, exist_ok=True)

    def key(self, workload: str, size: str) -> str:
        return f"{workload}-{size}-g{self.version}"

    def get(self, key: str, build) -> str:
        """Path of the entry, building it with `build(tmp_dir)` on a miss.
        Generation time is printed and counted in no metric."""
        path = os.path.join(self.dir, key)
        if not os.path.isdir(path):
            tmp = path + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            t0 = time.perf_counter()
            build(tmp)
            try:
                os.replace(tmp, path)
            except OSError:  # a concurrent run built it first
                shutil.rmtree(tmp)
            info(f"generated {key} in {time.perf_counter() - t0:.1f} s")
        return path


def info(msg: str) -> None:
    print(f"# {msg}", flush=True)


# --- page pool ----------------------------------------------------------------


def _pool_rows(idx: list[int]) -> list[tuple]:
    from horizon_ocr_python_spark.sources.pages import make_page

    out = []
    for i in idx:
        p = make_page(i, seed=POOL_SEED)
        out.append((p["url"], p["warc_ts"].replace(tzinfo=timezone.utc),
                    p["html"], p["text"], p["lang"], p["kind"]))
    return out


def write_pages(rows: list[tuple], path: str) -> None:
    cols = list(zip(*rows))
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f
                                  in zip(cols, _PAGE_SCHEMA)],
                                 schema=_PAGE_SCHEMA)
    pq.write_table(table, path)


def read_pages(path: str) -> list[tuple]:
    t = pq.read_table(path, columns=list(PAGE_COLUMNS)).to_pydict()
    return list(zip(*(t[c] for c in PAGE_COLUMNS)))


def page_pool(cache: Cache) -> list[tuple]:
    """The fixed pool, generated in one forked process per core on a miss."""
    def build(tmp):
        import multiprocessing as mp

        # fork, not spawn: this runs before any thread or JVM exists, and a
        # spawn pool would leave multiprocessing's resource tracker process
        # running after the pool is joined
        n = os.cpu_count() or 1
        chunks = [list(range(k, POOL_PAGES, 4 * n)) for k in range(4 * n)]
        with mp.get_context("fork").Pool(n) as pool:
            parts = pool.map(_pool_rows, chunks)
            pool.close()
            pool.join()
        rows = sorted((r for part in parts for r in part),
                      key=lambda r: int(r[0].rsplit("/", 1)[1]))
        write_pages(rows, os.path.join(tmp, "pages.parquet"))

    path = cache.get(cache.key("pages", f"n{POOL_PAGES}"), build)
    return read_pages(os.path.join(path, "pages.parquet"))


def quotas(pool: list[tuple], n: int) -> dict[str, int]:
    """Rows per kind for an `n`-row sample in the pool's own kind mix
    (largest-remainder rounding, so the quotas sum to n)."""
    counts = {k: sum(1 for r in pool if r[5] == k) for k in PAGE_KINDS}
    exact = {k: n * c / len(pool) for k, c in counts.items()}
    q = {k: int(v) for k, v in exact.items()}
    for k in sorted(exact, key=lambda k: q[k] - exact[k])[:n - sum(q.values())]:
        q[k] += 1
    return q


def sample_by_kind(pool: list[tuple], q: dict[str, int],
                   rng: random.Random) -> list[tuple]:
    out = []
    for k in PAGE_KINDS:
        cand = [r for r in pool if r[5] == k]
        out.extend(rng.sample(cand, q[k]))
    # crawl dumps arrive host-adjacent; the salted repartition has to undo it
    return sorted(out, key=lambda r: r[0])


def crawl_batch(pool: list[tuple], seed: int, k: int, n: int) -> list[tuple]:
    """Batch `k` of the crawl_mixed input for `seed`: `n` pool rows in the
    pool's kind mix. Each iteration of a run crawls its own batch, so a
    run's median spans several draws rather than one draw's straggler
    layout (which raster pages share a partition)."""
    rng = random.Random(f"crawl_mixed:{seed}:{k}")
    return sample_by_kind(pool, quotas(pool, n), rng)


def recrawl_batch(pool: list[tuple], base: list[tuple], seed: int,
                  n_changed: int, n_new: int) -> list[tuple]:
    """A recrawl of `base`: every base url, most rows byte-identical,
    `n_changed` HTML urls with new payloads, plus `n_new` new HTML urls.
    Replacement and new payloads come from pool pages outside the base;
    binary documents never change."""
    rng = random.Random(f"recrawl:{seed}")
    base_urls = {r[0] for r in base}
    spare = [r for r in pool if r[5] == "html" and r[0] not in base_urls]
    fresh = rng.sample(spare, n_changed + n_new)
    changed = rng.sample([r[0] for r in base if r[5] == "html"], n_changed)
    repl = dict(zip(changed, fresh[:n_changed]))
    batch = [(r[0], *repl[r[0]][1:]) if r[0] in repl else r for r in base]
    return sorted(batch + fresh[n_changed:], key=lambda r: r[0])


# --- dedup tables -----------------------------------------------------------------

VOCAB = 4000
DIM = 64


def _doc_text(rng: np.random.Generator, n_words: int) -> list[str]:
    return [f"w{int(x)}" for x in rng.integers(0, VOCAB, n_words)]


def dedup_tables(n_docs: int, n_vecs: int, seed: int, out_dir: str,
                 dup_share: float = 0.2, big_cluster: int = 70) -> dict:
    """Write documents.parquet / embeddings.parquet into `out_dir` and
    return the generator's own facts (near-duplicate share by word-set
    Jaccard >= 0.9 against each copy's source).

    Documents: random texts over a VOCAB-word vocabulary; `dup_share` of
    the rest are near-copies (one word replaced) of an original, and one
    exact-copy cluster of `big_cluster` members makes minhash band buckets
    larger than the operators' 64-member cap. Embeddings: Gaussian 64-d
    vectors; `dup_share` are noisy copies (sigma 0.05) of an original and
    one tight cluster of `big_cluster` members shares band buckets past
    the cap. Row ids are shuffled so clusters spread over the id range."""
    rng = np.random.default_rng(seed)
    texts = [_doc_text(rng, int(rng.integers(40, 80)))] * big_cluster
    source = [-1] + [0] * (big_cluster - 1)
    originals: list[int] = []
    while len(texts) < n_docs:
        if originals and rng.random() < dup_share:
            src = originals[int(rng.integers(0, len(originals)))]
            words = list(texts[src])
            words[int(rng.integers(0, len(words)))] = f"w{int(rng.integers(0, VOCAB))}"
            source.append(src)
        else:
            words = _doc_text(rng, int(rng.integers(30, 120)))
            originals.append(len(texts))
            source.append(-1)
        texts.append(words)
    near = sum(len(set(texts[i]) & set(texts[s])) / len(set(texts[i]) | set(texts[s]))
               >= 0.9 for i, s in enumerate(source) if s >= 0)
    order = rng.permutation(n_docs)
    docs_text = [" ".join(texts[i]) for i in order]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(docs_text, pa.string()),
        "lang": pa.array(["en"] * n_docs, pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in docs_text], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    vecs = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    labels = np.zeros(n_vecs, dtype=np.int32)
    vecs[:big_cluster] = (rng.standard_normal(DIM)
                          + 0.01 * rng.standard_normal((big_cluster, DIM)))
    labels[:big_cluster] = 1
    for i in range(big_cluster, n_vecs):
        if rng.random() < dup_share:
            src = int(rng.integers(big_cluster, i))
            vecs[i] = vecs[src] + 0.05 * rng.standard_normal(DIM)
            labels[i] = labels[src]
    # the ANN queries are vec_id < 5: keep a big-cluster member among them
    vorder = rng.permutation(n_vecs)
    vorder = np.concatenate([[0], vorder[vorder != 0]])
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs[vorder]), pa.list_(pa.float32())),
        "label": pa.array(labels[vorder], pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {"near_dup_share": near / n_docs}


def write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)


def read_json(path: str):
    with open(path) as fh:
        return json.load(fh)
