"""The workloads. Each one prepares its seeded input (untimed), runs one
timed iteration at a time through the engine's public functions, and
checks every iteration's output with the gate (untimed)."""

from __future__ import annotations

import os
import random
import shutil
import time

import pyarrow.parquet as pq

import gate
import inputs

DEDUP_SEED = 7

# rows per timed iteration; "tiny" is for the self-tests
SIZES = {
    "full": {"crawl": 600, "changed": 60, "new": 60, "docs": 1600,
             "vecs": 800, "kernel_per_kind": 8},
    "tiny": {"crawl": 40, "changed": 4, "new": 4, "docs": 200, "vecs": 120,
             "kernel_per_kind": 1},
}


def build_all(cache, size: str) -> None:
    """Build every per-checkout cache up front, whichever workload runs
    first, so no later run pays for it."""
    inputs.page_pool(cache)
    dedup_base(cache, SIZES[size]["docs"], SIZES[size]["vecs"])


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def snapshot_rows(root: str, snap_id: int, columns: list[str]) -> dict:
    path = os.path.join(root, "snapshots", f"snap-{snap_id}")
    return pq.read_table(path, columns=columns).to_pydict()


class Workload:
    """`iterate` is the only timed method; it returns the number of input
    documents the iteration completed. `after` gates the iteration's output
    and returns (rows attempted, rows with status != 'ok')."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.size]
        self.iters: dict = {}

    def span(self, name):
        return self.ctx.spans.span(name)

    def kernel_sample(self) -> list[tuple]:
        """Pages for the traced run's single-process kernel pass."""
        return []


class CrawlMixed(Workload):
    """First crawl of a table: run_extraction into an empty output root.
    Each iteration crawls its own seeded batch (inputs.crawl_batch).

    The traced run adds one recrawl pass over the last crawl's committed
    table (resume filter, extraction of changed and new HTML rows, commit,
    compaction, latest-wins read), so the checkpoint layer is measured
    too; it counts in no end-to-end metric."""

    name = "crawl_mixed"

    def prepare(self):
        self.pool = inputs.page_pool(self.ctx.cache)

    def reset(self, k):
        """Untimed: drop the last iteration's table and input, write batch k."""
        run_dir = self.ctx.run_dir
        if k:
            shutil.rmtree(self.out)
            os.remove(self.pages_path)
        self.rows = inputs.crawl_batch(self.pool, self.ctx.seed, k,
                                       self.size["crawl"])
        self.expected = {r[0]: r[3] for r in self.rows}
        self.pages_path = os.path.join(run_dir, f"pages-{k}.parquet")
        inputs.write_pages(self.rows, self.pages_path)
        self.out = os.path.join(run_dir, f"crawl-{k}")

    def iterate(self, k):
        from horizon_ocr_python_spark.engine.pipeline import run_extraction

        spark = self.ctx.spark
        with self.span("run_extraction"):
            self.snap = run_extraction(spark.read.parquet(self.pages_path),
                                       output_root=self.out).snapshot_id
        return len(self.rows)

    def after(self, k):
        return self._check_snapshot(k, self.out, self.snap, self.expected,
                                    len(self.rows))

    def _check_snapshot(self, k, root, snap, expected, n_input):
        """Gate the rows snapshot `snap` wrote: exactly the expected urls,
        each with the generator's text."""
        t = snapshot_rows(root, snap, ["url", "raw_text", "status",
                                       "extract_ms"])
        gate.check_table(list(zip(t["url"], t["raw_text"])), expected,
                         f"{self.name} iteration {k}")
        self.iters[k] = {"kernel_s": sum(t["extract_ms"]) / 1000.0,
                         "extracted": len(t["url"]), "input": n_input}
        return n_input, sum(s != "ok" for s in t["status"])

    def stored_bytes_per_doc(self):
        return du(self.out) / len(self.rows)

    def force_layers(self):
        return {"partitioning.scan_s": force_scan(self.ctx, self.pages_path),
                **self._recrawl_pass()}

    def _recrawl_pass(self) -> dict:
        from horizon_ocr_python_spark.engine import checkpoint
        from horizon_ocr_python_spark.engine.partitioning import with_length_cap
        from horizon_ocr_python_spark.engine.pipeline import run_extraction

        c, s = self.ctx, self.size
        batch = inputs.recrawl_batch(self.pool, self.rows, c.seed,
                                     s["changed"], s["new"])
        path = os.path.join(c.run_dir, "recrawl-batch.parquet")
        inputs.write_pages(batch, path)
        old = {r[0]: r[2] for r in self.rows}
        todo = {r[0]: r[3] for r in batch if old.get(r[0]) != r[2]}
        root = os.path.join(c.run_dir, "recrawl")
        shutil.copytree(self.out, root)

        spark = c.spark
        c.spans.iteration = "recrawl"
        with self.span("force.filter_uncommitted"):
            t0 = time.perf_counter()
            checkpoint.filter_uncommitted(
                with_length_cap(spark.read.parquet(path)),
                checkpoint.committed_keys(spark, root)).count()
            resume_s = time.perf_counter() - t0
        with self.span("run_extraction"):
            snap = run_extraction(spark.read.parquet(path), output_root=root,
                                  resume=True).snapshot_id
        with self.span("compact"):
            checkpoint.compact(spark, root)
        with self.span("read_table"):
            checkpoint.read_table(spark, root).count()
        c.spans.iteration = None

        # exactly the changed and new rows were extracted, and the table
        # holds one row per url with the latest text
        self._check_snapshot("recrawl", root, snap, todo, len(batch))
        rows = (checkpoint.read_table(spark, root)
                .select("url", "raw_text").collect())
        gate.check_table([tuple(r) for r in rows],
                         {r[0]: r[3] for r in batch},
                         f"{self.name} recrawl after compaction")
        return {"checkpoint.resume_filter_s": resume_s}

    def kernel_sample(self):
        rng = random.Random(f"kernel:{self.ctx.seed}")
        q = {k: self.size["kernel_per_kind"] for k in inputs.PAGE_KINDS}
        q["html"] *= 3
        return inputs.sample_by_kind(self.rows, q, rng)


def force_scan(ctx, path: str) -> float:
    """The lazy scan + salted shuffle on its own, written to noop."""
    from horizon_ocr_python_spark.engine.partitioning import (
        partitions_for, salted_repartition)

    spark = ctx.spark
    with ctx.spans.span("force.salted_repartition"):
        t0 = time.perf_counter()
        (salted_repartition(spark.read.parquet(path), partitions_for(spark))
         .write.format("noop").mode("overwrite").save())
        return time.perf_counter() - t0


def dedup_ops():
    from horizon_ocr_python_spark.operators import compose, dedup, similarity

    return [("neardup_verdict", compose.neardup_verdict),
            ("ngram_jaccard_pairs", dedup.ngram_jaccard_pairs),
            ("embedding_cosine_pairs", compose.embedding_cosine_pairs),
            ("lsh_ann_topk", similarity.lsh_ann_topk)]


class DedupCuration(Workload):
    """The four dedup/similarity operators over the documents and
    embeddings tables of dedup_base. Each output is written to parquet, so
    every iteration's results can be hash-checked against the DuckDB oracle
    without a second execution. The tables are fixed per checkout: the
    operators' results do not depend on row order, so there is nothing for
    the seed to vary that would not also need a new oracle."""

    name = "dedup_curation"

    def prepare(self):
        self.sf_dir = dedup_base(self.ctx.cache, self.size["docs"],
                                 self.size["vecs"])
        self.facts = f = inputs.read_json(
            os.path.join(self.sf_dir, "facts.json"))
        inputs.info(f"dedup input: near-duplicate share "
                    f"{f['near_dup_share']:.3f}, largest band bucket "
                    f"{f['max_band_bucket']} (documents), "
                    f"{f['max_sim_bucket']} (embeddings)")

    def reset(self, k):
        if k:
            shutil.rmtree(self.out)
        self.out = os.path.join(self.ctx.run_dir, f"dedup-{k}")

    def iterate(self, k):
        for name, fn in dedup_ops():
            with self.span(name):
                fn(self.ctx.spark, self.sf_dir).write.parquet(
                    os.path.join(self.out, name))
        return self.size["docs"]

    def after(self, k):
        self.out_rows = {}
        for name, _ in dedup_ops():
            t = pq.read_table(os.path.join(self.out, name))
            rows = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
            gate.check_oracle(f"{name} iteration {k}", rows, t.column_names,
                              self.facts["oracle"][name])
            self.out_rows[name] = len(rows)
        return self.size["docs"], 0

    def stored_bytes_per_doc(self):
        return du(self.out) / self.size["docs"]

    def force_layers(self):
        """Candidate pairs of the three band-bucket pair generators."""
        from pyspark.sql import functions as F

        from horizon_ocr_python_spark.operators import compose, dedup, similarity

        spark = self.ctx.spark
        docs = spark.read.parquet(f"{self.sf_dir}/documents.parquet")
        emb = spark.read.parquet(f"{self.sf_dir}/embeddings.parquet").select(
            "vec_id", similarity._dvec(F.col("embedding")).alias("v"))
        with self.span("force.candidate_pairs"):
            keys = dedup.band_keys_from(dedup.minhash_signatures_from(docs))
            neardup = compose.bucket_pairs_single_pass(
                keys, "doc_id", dedup.MAX_BAND_BUCKET,
                compose.NEIGHBOR_WIDTH).count()
            ngram = compose.bucket_pairs_single_pass(
                keys, "doc_id", dedup.MAX_BAND_BUCKET, None).count()
            cosine = compose.sim_candidate_pairs(
                similarity.banded_keys(emb)).count()
        verified = (self.out_rows["ngram_jaccard_pairs"]
                    + self.out_rows["embedding_cosine_pairs"])
        return {"operators.candidate_pairs": neardup + ngram + cosine,
                "operators.verified_share": verified / max(1, ngram + cosine)}


def dedup_base(cache, n_docs: int, n_vecs: int) -> str:
    """The logical dedup tables, their generator facts and the DuckDB
    oracle hashes of the four operators, built once per checkout: the
    oracle SQL takes minutes at this size, far more than one run may."""
    def build(out_dir):
        import duckdb

        import __spark_entry__ as entry
        from horizon_ocr_python_spark.operators.compose import MAX_SIM_BUCKET
        from horizon_ocr_python_spark.operators.dedup import (
            MAX_BAND_BUCKET, SIG_BANDS_CTE)
        from horizon_ocr_python_spark.operators.similarity import BANDED_CTE
        from tools.check_oracles import table_hash

        facts = inputs.dedup_tables(n_docs, n_vecs, DEDUP_SEED, out_dir)
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(out_dir, t)}.parquet'")
        biggest = ("SELECT max(n) FROM (SELECT band_key, count(*) AS n "
                   "FROM {} GROUP BY band_key)")
        facts["max_band_bucket"] = con.execute(
            f"WITH {SIG_BANDS_CTE} {biggest.format('bands')}").fetchone()[0]
        facts["max_sim_bucket"] = con.execute(
            f"WITH {BANDED_CTE} {biggest.format('banded')}").fetchone()[0]
        # the input property the workload exists for, checked not assumed
        if (facts["max_band_bucket"] <= MAX_BAND_BUCKET
                or facts["max_sim_bucket"] <= MAX_SIM_BUCKET):
            raise gate.GateError(f"dedup input: no band bucket exceeds the "
                                 f"64-member caps: {facts}")
        sql = entry.oracle_sql()
        facts["oracle"] = {}
        for name, _ in dedup_ops():
            res = con.execute(sql[name])
            facts["oracle"][name] = table_hash(
                res.fetchall(), [d[0] for d in res.description])
        con.close()
        inputs.write_json(os.path.join(out_dir, "facts.json"), facts)

    return cache.get(cache.key("dedup_curation", f"d{n_docs}v{n_vecs}"),
                     build)


WORKLOADS = {w.name: w for w in (CrawlMixed, DedupCuration)}
