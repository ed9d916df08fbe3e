"""The three workloads.  Each drives lsh_spark only through its public
calls and times every call from outside.

A workload is a class with ``prepare`` (generate inputs and compute the
DuckDB expectations; untimed), ``run_pass`` (one fixed amount of work for
one closed-loop client; ``warm=True`` is the session's untimed, unchecked
warm-up) and ``layer_metrics`` (the per-layer numbers only this workload
can produce).
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from spans import JobCounter, Tracer, median


@dataclass
class Op:
    kind: str
    wall: float
    ok: bool
    start: float
    end: float
    groups: list[str]
    span: int | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


@dataclass
class Pass:
    wall: float
    ops: list[Op] = field(default_factory=list)


class Harness:
    """Runs ops: one job group per op, wall time from outside, output
    check afterwards (untimed), failures counted and the run continues."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.counter = JobCounter(self.sc)
        self._n = 0

    def op(self, kind: str, fn, check) -> tuple[Op, object]:
        """``fn(groups)`` does the op's work and returns its output;
        ``groups`` lets it add job groups Spark assigns on other threads.
        ``check(output)`` returns True when the output is correct; a
        warm-up op passes ``check=None`` and is not checked."""
        self._n += 1
        group = f"perfbench-{self._n}-{kind}"
        groups = [group]
        self.sc.setJobGroup(group, kind)
        out, ok = None, False
        span = len(self.tracer.spans) if self.tracer.enabled else None
        t_start = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op/{kind}"):
                out = fn(groups)
            wall = time.perf_counter() - t0
        except Exception:  # the benchmark boundary: count it and go on
            wall = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
        t_end = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        if out is not None and check is None:
            ok = True
        elif out is not None:
            try:
                ok = bool(check(out))
            except Exception:
                traceback.print_exc(file=sys.stderr)
            if not ok:
                print(f"perfbench: output mismatch in {kind}", file=sys.stderr)
        rec = Op(kind, wall, ok, t_start, t_end, groups, span)
        rec.jobs, rec.stages, rec.tasks = self.counter.counts(groups)
        return rec, out

    def span(self, name: str):
        return self.tracer.span(name)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# near_dup
# ---------------------------------------------------------------------------

class NearDup:
    """Batch near-dup job over a planted-cluster corpus: self-dedup pairs,
    an A/B similarity join (odd ids probe even ids), keep-first dedup and
    one SQL scan through all five registered lsh_* functions.

    The DuckDB oracles replay MinHash banding in SQL at about 2 µs per
    character per seed, far too slow for the whole corpus in every run.
    Outputs are therefore checked exactly on a seed-chosen sample of whole
    planted clusters plus singletons: a pair's banding and verification
    depend only on its two documents, so the output restricted to the
    sample must equal the oracle over the sample, row for row."""

    name = "near_dup"
    scan_sql = (
        "SELECT doc_id, lsh_min(text, 3, 4, 2, 123) AS m, "
        "lsh_min32(text, 3, 4, 2, 123) AS m32, "
        "lsh_jaccard(text, text_b, 3) AS j, "
        "lsh_euclidean(CAST(embedding AS ARRAY<DOUBLE>), 1.0, 4, 2, 123) AS e, "
        "lsh_euclidean32(CAST(embedding AS ARRAY<DOUBLE>), 1.0, 4, 2, 123) AS e32 "
        "FROM perfbench_nd")

    def __init__(self, scratch: str, seed: int, tiny: bool):
        self.dir = os.path.join(scratch, "near_dup")
        self.seed = seed
        self.n_docs = 120 if tiny else 800

    def sizes(self) -> dict:
        return self._sizes

    def prepare(self) -> None:
        from lsh_spark.operators.lsh_queries import _JOIN_AB_PLAN, _PAIRS_PLAN
        from lsh_spark.operators.similarity_join import _AUTO_BROADCAST_CAP_BYTES
        from lsh_spark.oracles import duckdb_lsh as orc

        self.pairs_plan, self.join_plan = _PAIRS_PLAN, _JOIN_AB_PLAN
        corpus = gen.near_dup_corpus(self.seed, self.n_docs, mean_words=80)
        texts = corpus.table.column("text").to_pylist()
        # lsh_jaccard's second argument: the text of the next doc by id,
        # which for a planted cluster member is often its near-duplicate
        table = corpus.table.append_column(
            "text_b", pa.array(texts[1:] + texts[:1], pa.string()))
        self.table = table
        gen.write_tables({"documents": table}, self.dir)
        rng = random.Random(self.seed)
        big = [c for c in corpus.clusters if len(c) >= 3] or corpus.clusters
        picked = rng.sample(big, 1)
        in_cluster = {i for c in corpus.clusters for i in c}
        singles = [i for i in table.column("doc_id").to_pylist()
                   if i not in in_cluster]
        self.sample = sorted({i for c in picked for i in c}
                             | set(rng.sample(singles, 2)))
        mask = pa.compute.is_in(table.column("doc_id"),
                                pa.array(self.sample, pa.int64()))
        sub = table.filter(mask)
        sdir = os.path.join(self.dir, "sample")
        gen.write_tables({
            "documents": sub,
            "embeddings": sub.select(["doc_id", "embedding"]).rename_columns(
                ["vec_id", "embedding"]),
        }, sdir)
        p, j = self.pairs_plan, self.join_plan
        jac = f"""
WITH wa AS (SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - 2, 0))) AS i
            FROM documents),
     sa AS (SELECT DISTINCT doc_id, {orc.char_window_hash_sql(3)} AS sh FROM wa),
     wb AS (SELECT doc_id, text_b AS text,
                   unnest(generate_series(1, greatest(length(text_b) - 2, 0))) AS i
            FROM documents),
     sb AS (SELECT DISTINCT doc_id, {orc.char_window_hash_sql(3)} AS sh FROM wb),
     na AS (SELECT doc_id, count(*) AS n FROM sa GROUP BY 1),
     nb AS (SELECT doc_id, count(*) AS n FROM sb GROUP BY 1),
     ni AS (SELECT sa.doc_id, count(*) AS n FROM sa JOIN sb USING (doc_id, sh)
            GROUP BY 1)
SELECT d.doc_id,
       CASE WHEN coalesce(na.n, 0) + coalesce(nb.n, 0) - coalesce(ni.n, 0) > 0
            THEN coalesce(ni.n, 0)::DOUBLE
                 / (coalesce(na.n, 0) + coalesce(nb.n, 0) - coalesce(ni.n, 0))::DOUBLE
            ELSE 0.0 END AS j
FROM documents d LEFT JOIN na USING (doc_id) LEFT JOIN nb USING (doc_id)
LEFT JOIN ni USING (doc_id)"""
        self.expected = oracle.run_oracles(
            {"documents": os.path.join(sdir, "documents.parquet"),
             "embeddings": os.path.join(sdir, "embeddings.parquet")},
            {
                "self_dedup": orc.near_dup_pairs_sql(
                    3, p.band_count, p.band_size, 123, 0.6),
                "similarity_join": orc.similarity_join_ab_sql(
                    3, j.band_count, j.band_size, 123, 0.7),
                "dedup_keep_first": orc.dedup_keep_first_sql(
                    3, 8, 6, 123, 0.8),
                "m": orc.minhash_signatures_sql(3, 4, 2, 123),
                "m32": orc.minhash_signatures_sql(3, 4, 2, 123, low32=True),
                "j": jac,
                "e": orc.euclidean_signatures_sql(1.0, 4, 2, 123, 16),
                "e32": orc.euclidean_signatures_sql(1.0, 4, 2, 123, 16,
                                                    low32=True),
            })
        n_chars = table.column("n_chars").to_numpy()
        # the size gate's own estimate (similarity_join._should_broadcast):
        # rows × (4·avg|set| + 48), with |set| ≈ distinct char 3-grams
        avg_set = float(np.mean([len(set(t[k:k + 3] for k in range(len(t) - 2)))
                                 for t in texts]))
        est = self.n_docs * (4.0 * avg_set + 48.0)
        self._sizes = {
            "docs": self.n_docs,
            "avg_chars": round(float(n_chars.mean()), 1),
            "planted_clusters": len(corpus.clusters),
            "docs_in_clusters": len(in_cluster),
            "broadcast_estimate_bytes": int(est),
            "broadcast_cap_bytes": _AUTO_BROADCAST_CAP_BYTES,
            "checked_sample_docs": len(self.sample),
        }
        if est > _AUTO_BROADCAST_CAP_BYTES:
            raise ValueError("near_dup corpus would leave the broadcast path")

    # -- checks -------------------------------------------------------------

    def _restricted(self, rows, cols, id_cols) -> oracle.Expected:
        keep = set(self.sample)
        sel = [r for r in rows if all(r[c] in keep for c in id_cols)]
        return oracle.digest(sel, cols)

    def _check_scan(self, rows) -> bool:
        if len(rows) != self.n_docs:
            return False
        keep = set(self.sample)
        mine = [r for r in rows if r["doc_id"] in keep]

        def signed(v):
            v = int(v)
            return v - (1 << 64) if v >= 1 << 63 else v

        for col, conv, id_name in (("m", signed, "doc_id"), ("m32", int, "doc_id"),
                                   ("e", signed, "vec_id"), ("e32", int, "vec_id")):
            exploded = [(r["doc_id"], k, conv(h)) for r in mine
                        for k, h in enumerate(r[col])]
            if oracle.digest(exploded, [id_name, "band_idx", "band_hash"]) \
                    != self.expected[col]:
                return False
        return oracle.digest([(r["doc_id"], r["j"]) for r in mine],
                             ["doc_id", "j"]) == self.expected["j"]

    # -- timed work ---------------------------------------------------------

    def run_pass(self, spark, h: Harness, warm: bool = False) -> Pass:
        from pyspark.sql import functions as F

        from lsh_spark.operators.similarity_join import (
            lsh_dedup_keep_first, lsh_self_dedup_pairs, lsh_similarity_join)
        from lsh_spark.plans import release_intermediates

        p, j = self.pairs_plan, self.join_plan
        path = os.path.join(self.dir, "documents.parquet")
        t0 = time.perf_counter()
        ps = Pass(0.0)

        def self_dedup(_g):
            docs = spark.read.parquet(path).select("doc_id", "text")
            with h.span("operators.self_dedup"):
                df = lsh_self_dedup_pairs(
                    docs, "text", id_col="doc_id", ngram_width=3,
                    band_count=p.band_count, band_size=p.band_size, seed=123,
                    threshold=0.6)
            with h.span("spark.collect"):
                return df.select("id_a", "id_b",
                                 F.round("jaccard", 6).alias("jaccard")).collect()

        def sim_join(_g):
            docs = spark.read.parquet(path)
            a = docs.where(F.col("doc_id") % 2 == 1).selectExpr(
                "doc_id AS probe_id", "text")
            b = docs.where(F.col("doc_id") % 2 == 0).selectExpr(
                "doc_id AS corpus_id", "text")
            with h.span("operators.similarity_join"):
                df = lsh_similarity_join(
                    a, b, "text", "text", left_id="probe_id",
                    right_id="corpus_id", ngram_width=3,
                    band_count=j.band_count, band_size=j.band_size, seed=123,
                    threshold=0.7)
            with h.span("spark.collect"):
                return df.select("probe_id", "corpus_id",
                                 F.round("jaccard", 6).alias("jaccard")).collect()

        def keep_first(_g):
            docs = spark.read.parquet(path).select("doc_id", "text", "lang",
                                                   "source")
            with h.span("operators.dedup_keep_first"):
                df = lsh_dedup_keep_first(
                    docs, "text", id_col="doc_id", ngram_width=3,
                    band_count=8, band_size=6, seed=123, threshold=0.8)
            with h.span("spark.collect"):
                return df.select("doc_id", "lang", "source").collect()

        def scan(_g):
            spark.read.parquet(path).createOrReplaceTempView("perfbench_nd")
            with h.span("functions.sql_plan"):
                df = spark.sql(self.scan_sql)
            with h.span("spark.collect"):
                return df.collect()

        exp = self.expected
        steps = (
            ("operators.self_dedup", self_dedup, lambda rows: self._restricted(
                rows, ["id_a", "id_b", "jaccard"], ("id_a", "id_b"))
                == exp["self_dedup"]),
            ("operators.similarity_join", sim_join,
             lambda rows: self._restricted(
                 rows, ["probe_id", "corpus_id", "jaccard"],
                 ("probe_id", "corpus_id")) == exp["similarity_join"]),
            ("operators.dedup_keep_first", keep_first,
             lambda rows: self._restricted(
                 rows, ["doc_id", "lang", "source"], ("doc_id",))
             == exp["dedup_keep_first"]),
            ("functions.lsh_udfs", scan, self._check_scan),
        )
        for kind, fn, check in steps:
            rec, out = h.op(kind, fn, None if warm else check)
            if kind == "operators.self_dedup" and out is not None and not warm:
                self.last_pairs = [(r["id_a"], r["id_b"]) for r in out]
            ps.ops.append(rec)
            release_intermediates()
            spark.catalog.clearCache()
        ps.wall = time.perf_counter() - t0
        return ps

    # -- per-layer ----------------------------------------------------------

    def layer_metrics(self, passes: list[Pass]) -> dict:
        """In-process ``_core`` kernel timings over this run's inputs (one
        core), and the Arrow-boundary ratio against the SQL scan."""
        from lsh_spark._core.batch import jaccard_pairs_batch, minhash_text_batch
        from lsh_spark._core.euclidean import euclidean_bands_batch

        texts = self.table.column("text").to_pylist()
        texts_b = self.table.column("text_b").to_pylist()
        vecs = np.asarray(self.table.column("embedding").to_pylist(),
                          dtype=np.float64)
        p = self.pairs_plan

        def best(fn, reps=3):
            ts = []
            for _ in range(reps):
                t = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t)
            return min(ts)

        mh = best(lambda: minhash_text_batch(texts, 3, p.band_count,
                                             p.band_size, 123))
        eu = best(lambda: euclidean_bands_batch(vecs, 1.0, 4, 2, 123))
        by_id = dict(zip(self.table.column("doc_id").to_pylist(), texts))
        pairs = getattr(self, "last_pairs", [])
        va = [by_id[a] for a, _ in pairs] or [""]
        vb = [by_id[b] for _, b in pairs] or [""]
        ver = best(lambda: jaccard_pairs_batch(va, vb, 3))
        # the scan's five functions over the same rows, in-process:
        # lsh_min and lsh_min32 share one kernel, as do the two euclideans
        same_rows = (2 * best(lambda: minhash_text_batch(texts, 3, 4, 2, 123))
                     + best(lambda: jaccard_pairs_batch(texts, texts_b, 3))
                     + 2 * best(lambda: euclidean_bands_batch(vecs, 1.0, 4, 2,
                                                              123)))
        scans = [o.wall for ps in passes for o in ps.ops
                 if o.kind == "functions.lsh_udfs"]
        udf_s = median(scans)
        text_bytes = sum(len(t.encode()) for t in texts)
        return {
            "core.minhash_text.s": mh,
            "core.minhash_text.bytes": text_bytes + len(texts) * p.band_count * 8,
            "core.euclidean.s": eu,
            "core.verify.s": ver,
            "functions.lsh_udfs.s": udf_s,
            "functions.core_same_rows.s": same_rows,
            "functions.boundary_ratio": udf_s * _cores() / same_rows,
            "operators.verified_pairs": len(pairs),
        }


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

# Forty registry queries that each ran under 1 s at sf0.1 on 8 cores
# (BENCH_DETAIL_c8.json), spread over the families; no streaming query
# (those write to fixed /tmp paths shared between sessions).
QUERY_MIX = (
    # TPC-H shapes
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q5_region_revenue", "q6_forecast_revenue", "q9_profit_by_nation_year",
    "q10_returned_items", "q12_late_shipment_priority",
    "q13_customer_distribution", "q14_promo_revenue",
    "q17_small_quantity_revenue", "q19_bracket_revenue",
    "q22_sales_opportunity",
    # events analytics
    "events_hourly", "events_funnel", "events_sessionize",
    "events_props_stats", "events_type_pivot", "events_user_rolling_counts",
    "events_hourly_spikes", "event_type_distribution",
    "hll_users_per_event_type",
    # text / vocabulary statistics
    "text_stats", "text_quality", "vocab_stats", "repetition_stats",
    "distinct_ngram_counts", "zipf_fit_stats", "pii_scrub_stats",
    "dedup_exact",
    # signatures
    "minhash_signatures", "minhash32_signatures", "euclidean_signatures",
    "minhash_shingle_signatures", "weighted_minhash_signatures",
    # persisted-index statistics
    "near_dup_index_stats", "bm25_index_stats", "cdc_index_stats",
    # multimodal decoders
    "media_features", "mp3_stream_features",
)

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")


class QueryMix:
    """Registry queries on a small star schema: plan build, job scheduling
    and exchanges dominate, the heavy kernels are bypassed.  The seed
    generates the tables and shuffles the query order."""

    name = "query_mix"

    def __init__(self, scratch: str, seed: int, tiny: bool):
        self.dir = os.path.join(scratch, "query_mix")
        self.seed = seed
        self.sf = 0.001 if tiny else 0.01
        self.names = QUERY_MIX[:6] if tiny else QUERY_MIX

    def prepare(self) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        tables = gen.star_schema(self.seed, self.sf)
        gen.write_tables(tables, self.dir)
        sqls = entry.oracle_sql()
        self.expected = oracle.run_oracles(
            {t: os.path.join(self.dir, f"{t}.parquet") for t in STAR_TABLES},
            {n: sqls[n] for n in self.names})
        self.order = list(self.names)
        random.Random(self.seed).shuffle(self.order)
        self._sizes = {"sf": self.sf, "queries": len(self.names),
                       **{t: tables[t].num_rows for t in
                          ("orders", "lineitem", "events", "documents")}}

    def sizes(self) -> dict:
        return self._sizes

    def run_pass(self, spark, h: Harness, warm: bool = False) -> Pass:
        t0 = time.perf_counter()
        ps = Pass(0.0)
        self.plan_build, self.plan_build_jobs = [], []
        for name in self.order[:5] if warm else self.order:
            build = {}

            def run(_g, name=name, build=build):
                t = time.perf_counter()
                with h.span("driver.plan_build"):
                    df = self.queries[name](spark, self.dir)
                build["s"] = time.perf_counter() - t
                build["jobs"] = h.counter.counts(_g)[0]
                with h.span("spark.collect"):
                    return df.collect(), df.columns

            rec, _ = h.op(name, run, None if warm else (
                lambda out, name=name: oracle.digest(out[0], out[1])
                == self.expected[name]))
            ps.ops.append(rec)
            if "s" in build:
                self.plan_build.append(build["s"])
                self.plan_build_jobs.append(build["jobs"])
            spark.catalog.clearCache()
        ps.wall = time.perf_counter() - t0
        return ps

    def layer_metrics(self, passes: list[Pass]) -> dict:
        return {
            "driver.plan_build.s": median(self.plan_build),
            "driver.plan_build_jobs": float(np.mean(self.plan_build_jobs or [0])),
        }


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------

class StreamIngest:
    """Persisted-index ingest: build the index over a base corpus, then
    land batches one at a time; per batch, probe it against the index with
    the streaming near-dup filter (AvailableNow), then append it to the
    index.  One op is one batch: probe drain plus index extend."""

    name = "stream_ingest"
    index = "perfbench_idx"
    num_buckets = 4

    def __init__(self, scratch: str, seed: int, tiny: bool):
        self.dir = os.path.join(scratch, "stream_ingest")
        self.seed = seed
        self.n_base = 60 if tiny else 240
        self.n_batches = 2 if tiny else 4
        self.batch_docs = 8 if tiny else 16

    def sizes(self) -> dict:
        return self._sizes

    def prepare(self) -> None:
        from lsh_spark.oracles import duckdb_lsh as orc

        base = gen.near_dup_corpus(self.seed, self.n_base, mean_words=40,
                                   tag="base")
        self.base_table = base.table.drop(["embedding"])
        self.batches = gen.stream_batches(self.seed, base, self.n_batches,
                                          self.batch_docs)
        gen.write_tables({"base": self.base_table}, self.dir)
        allt = pa.concat_tables([self.base_table, *self.batches])
        gen.write_tables({"all": allt}, os.path.join(self.dir, "oracle"))
        pairs = oracle.run_oracles(
            {"documents": os.path.join(self.dir, "oracle", "all.parquet")},
            {"pairs": orc.near_dup_pairs_sql(3, 8, 2, 123, 0.6)},
            raw=("pairs",))["pairs"][1]
        self._sizes = {
            "base_docs": self.n_base, "batches": self.n_batches,
            "batch_docs": self.batch_docs,
            "avg_chars": round(float(np.mean(
                allt.column("n_chars").to_numpy())), 1),
        }
        # the probe of batch i sees the base corpus plus batches < i
        first = {d: -1 for d in self.base_table.column("doc_id").to_pylist()}
        for i, b in enumerate(self.batches):
            first.update({d: i for d in b.column("doc_id").to_pylist()})
        per_batch: list[list] = [[] for _ in self.batches]
        for a, b, jac in pairs:
            ia, ib = first[a], first[b]
            if ia == ib:
                continue
            probe, hit = (a, b) if ia > ib else (b, a)
            per_batch[max(ia, ib)].append((probe, hit, jac))
        cols = ["doc_id_left", "doc_id_right", "jaccard"]
        self.expected = [oracle.digest(r, cols) for r in per_batch]
        self._sizes["expected_matches"] = sum(len(r) for r in per_batch)

    @staticmethod
    def _index_files(index: str) -> tuple[int, int]:
        wh = os.path.join(os.environ["PERFBENCH_SCRATCH"], "warehouse")
        files = size = 0
        for suffix in ("_bands", "_sets"):
            for dp, _dn, fns in os.walk(os.path.join(wh, index + suffix)):
                for fn in fns:
                    if fn.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(dp, fn))
        return files, size

    def run_pass(self, spark, h: Harness, warm: bool = False) -> Pass:
        """One ingest: index build, then every batch; the warm-up pass
        builds a separate index and lands only the first batch."""
        from pyspark.sql import functions as F

        from lsh_spark.operators.similarity_join import (
            build_lsh_corpus_index, extend_lsh_corpus_index)
        from lsh_spark.plans import release_intermediates
        from lsh_spark.streaming.documents import (
            streaming_near_dup_against_index)

        run = os.path.join(self.dir, f"run-{time.monotonic_ns()}")
        src, out, ckpt = (os.path.join(run, d) for d in ("src", "out", "ckpt"))
        os.makedirs(src)
        schema = spark.read.parquet(
            os.path.join(self.dir, "base.parquet")).schema
        index = "perfbench_warm" if warm else self.index
        batches = self.batches[:1] if warm else self.batches
        self.build_s, self.extend_s, self.drain_s = 0.0, [], []
        self.progress = []
        t0 = time.perf_counter()
        ps = Pass(0.0)
        t = time.perf_counter()
        with h.span("sources.index_build"):
            build_lsh_corpus_index(
                spark.read.parquet(os.path.join(self.dir, "base.parquet")),
                index, text_col="text", id_col="doc_id",
                num_buckets=self.num_buckets)
        self.build_s = time.perf_counter() - t
        release_intermediates()
        for i, batch in enumerate(batches):
            # land the batch atomically: write beside the source dir, then
            # rename in, so the file source never lists a partial file
            tmp = os.path.join(run, f"batch-{i:04d}.parquet")
            pq.write_table(batch, tmp)
            landed = os.path.join(src, f"batch-{i:04d}.parquet")
            os.rename(tmp, landed)
            n_before = len(_batch_dirs(out))

            def step(groups, landed=landed):
                t = time.perf_counter()
                with h.span("streaming.drain"):
                    stream = spark.readStream.schema(schema).parquet(src)
                    q = streaming_near_dup_against_index(
                        stream, spark, index, out, ckpt)
                    # foreachBatch jobs run on the stream thread, which
                    # sets its own job group (the query's run id); they
                    # do not inherit the op's group
                    groups.append(str(q.runId))
                    q.awaitTermination()
                    if q.exception() is not None:
                        raise RuntimeError(str(q.exception()))
                self.drain_s.append(time.perf_counter() - t)
                self.progress.extend(p.durationMs for p in q.recentProgress
                                     if p.numInputRows > 0)
                t = time.perf_counter()
                with h.span("sources.index_extend"):
                    extend_lsh_corpus_index(spark.read.parquet(landed),
                                            index)
                self.extend_s.append(time.perf_counter() - t)
                return True

            def check(_out, i=i, n_before=n_before):
                parts = _batch_dirs(out)
                if len(parts) != n_before + 1:
                    return self.expected[i].rows == 0 and \
                        len(parts) == n_before
                rows = (spark.read.parquet(os.path.join(out, parts[-1]))
                        .select("doc_id_left", "doc_id_right",
                                F.round("jaccard", 6).alias("jaccard"))
                        .collect())
                return oracle.digest(rows, ["doc_id_left", "doc_id_right",
                                            "jaccard"]) == self.expected[i]

            rec, _ = h.op("stream_ingest.batch", step,
                          None if warm else check)
            ps.ops.append(rec)
            release_intermediates()
        ps.wall = time.perf_counter() - t0
        self.index_files, self.index_bytes = self._index_files(index)
        shutil.rmtree(run, ignore_errors=True)
        return ps

    def layer_metrics(self, passes: list[Pass]) -> dict:
        def prog(keys):
            return median([sum(d.get(k, 0) for k in keys)
                           for d in self.progress])

        return {
            "sources.index_build.s": self.build_s,
            "sources.index_extend.s": median(self.extend_s),
            "sources.index_files": self.index_files,
            "sources.index_bytes": self.index_bytes,
            "streaming.drain.s": median(self.drain_s),
            "streaming.add_batch_ms": prog(("addBatch",)),
            "streaming.commit_ms": prog(("walCommit", "commitOffsets")),
            "streaming.planning_ms": prog(("queryPlanning",)),
        }


def _batch_dirs(out: str) -> list[str]:
    """The foreachBatch sink's ``batch_id=<n>`` directories, by batch id."""
    if not os.path.isdir(out):
        return []
    return sorted((d for d in os.listdir(out) if d.startswith("batch_id=")),
                  key=lambda d: int(d.split("=", 1)[1]))


WORKLOADS = {w.name: w for w in (NearDup, QueryMix, StreamIngest)}
