"""The benchmark's closed-loop workloads: ``cow_bulk_upsert`` (with the
near-duplicate ingest phase) and ``mor_stream_tail``.

Each workload drives the engine only through its public calls, with one
client that waits for every call, and has three phases:

* ``prepare`` (untimed, counted in ``setup_s``): generate the inputs from
  the seed and warm every plan shape the timed phase uses, because
  whole-stage codegen compiles each shape (and each ``n_buckets``
  literal) on first use;
* ``run`` (timed): the write phase, then the serving phase;
* ``check`` (untimed): compare every result with its DuckDB oracle.

The amount of work scales with ``--seconds`` (each count has a floor the
checks need); the same seconds give the same work on every commit, so a
faster engine shows as a shorter ``wall_s``.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

import numpy as np
from pyspark.sql import functions as F

from chomper_spark.functions import docdedup as dd
from chomper_spark.functions import similarity as sim
from chomper_spark.operators.merge import SnapshotMergeSink
from chomper_spark.sources.feed import synthetic_change_feed, with_batch_id
from chomper_spark.streaming import StreamingApply

import oracle

BASE_SECONDS = 10  # the run_seconds in BENCHMARK.json; sizes below are for it
CORES = 4
USER_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def tree_files(*roots: str) -> dict[str, int]:
    out = {}
    for root in roots:
        for d, _, fs in os.walk(root):
            for f in fs:
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    continue
    return out


def created_bytes(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` but not in ``before``."""
    new = [s for p, s in after.items() if p not in before]
    return len(new), sum(new)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def materialise(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer, checks):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = seconds / BASE_SECONDS
        self.tracer = tracer
        self.checks = checks
        self.con = oracle.connect()
        # filled by run(); read by run.py
        self.events = 0
        self.write_s = 0.0
        self.wall_s = 0.0
        self.batch_s: list[float] = []
        self.lookup_ms: list[float] = []
        self.scan_s: list[float] = []
        self.written_bytes = 0
        self.feed_gen_s = 0.0
        # time the benchmark spends on its own bookkeeping inside the timed
        # phase (file walks, counts, traced-run figures); kept out of wall_s
        self.untimed_s = 0.0
        self.extras: dict = {}  # per-layer figures measured outside spans

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def scaled(self, n: int, lo: int) -> int:
        return max(lo, round(n * self.scale))

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    @contextlib.contextmanager
    def untimed(self):
        """Benchmark bookkeeping inside the timed phase: its time is added
        to ``untimed_s``, which ``wall_s`` and ``trace.wall_s`` leave out."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t

    # -- shared serving phase ------------------------------------------

    def timed_lookups(self, sink, keys: list[tuple], cols: list[str]) -> list:
        results = []
        for key in keys:
            self.checks.op()
            with self.span("lookup"):
                t = time.perf_counter()
                rows = sink.read_keys([key]).select(*cols).collect()
                self.lookup_ms.append((time.perf_counter() - t) * 1000.0)
            results.append((key, rows))
        return results

    def timed_scans(self, sink, n: int, span_name: str = "scan") -> list[float]:
        out = []
        for _ in range(n):
            self.checks.op()
            with self.span(span_name):
                t = time.perf_counter()
                materialise(sink.read())
                out.append(time.perf_counter() - t)
        return out

    def traced_apply(self, sink, batch, batch_id: int, roots: list[str], apply=None,
                     span_name: str = "apply", **kw):
        """``sink.apply_batch`` (or ``apply``, the same bound method saved
        before it was wrapped) inside an ``apply`` span; in the traced run
        the span also records files written and the returned metrics."""
        apply = apply or sink.apply_batch
        if not self.tracer.enabled:
            return apply(batch, batch_id=batch_id, **kw)
        t = time.perf_counter()
        refs0 = sink.describe().get("delta_refs", 0)
        files0 = tree_files(*roots)
        own_s = time.perf_counter() - t
        with self.span(span_name, batch_id=batch_id) as rec:
            m = apply(batch, batch_id=batch_id, **kw)
        t = time.perf_counter()
        n_files, n_bytes = created_bytes(files0, tree_files(*roots))
        refs1 = sink.describe().get("delta_refs", 0)
        own_s += time.perf_counter() - t
        self.untimed_s += own_s
        rec["attrs"].update(
            files=n_files, bytes=n_bytes, events_in=m.events_in,
            merge_rows=m.merge_rows, buckets_frac=m.buckets_touched / sink.n_buckets,
            compacting=refs1 < refs0, tracer_s=own_s,
        )
        return m

    def manifest_figures(self, sink) -> None:
        """Fold time of a freshly opened sink (the constructor folds HEAD)
        and the chain shape ``describe()`` reports."""
        folds = []
        for _ in range(5):
            t = time.perf_counter()
            SnapshotMergeSink(self.spark, sink.root)
            folds.append((time.perf_counter() - t) * 1000.0)
        d = sink.describe()
        self.extras.update({"manifest.fold_ms": statistics.median(folds),
                            "manifest.chain_len": d["manifest_chain_len"],
                            "manifest.delta_refs": d["delta_refs"]})

    def check_lookups(self, results: list, want_sql: str, key_cols: list[str], what: str) -> None:
        """Every point read equals the oracle's row for its key, or is
        empty for a deleted or absent key."""
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE _want AS {want_sql}")
        where = " AND ".join(f"{c} = ?" for c in key_cols)
        for key, rows in results:
            want = self.con.execute(f"SELECT * FROM _want WHERE {where}", list(key)).fetchall()
            self.checks.expect_rows_equal(rows, want, f"{what} {key!r}")

    def close(self) -> None:
        self.con.close()


# ------------------------------------------------------------------ CDC


class _FeedWorkload(Workload):
    """Shared oracle plumbing for the two change-feed workloads."""

    def feed_sql(self) -> str:
        raise NotImplementedError

    def user_cols(self) -> list[str]:
        return USER_COLS

    def want_sql(self) -> str:
        return oracle.LATEST_WINS_SQL.format(cols=", ".join(self.user_cols()), feed=self.feed_sql())

    def pick_keys(self, n: int) -> list[tuple]:
        """Seeded mix of live, deleted and absent keys: half live, a
        quarter deleted, a quarter absent."""
        rng = random.Random(self.seed)
        live = self.con.sql(f"SELECT conv_id, turn_idx FROM ({self.want_sql()}) ORDER BY 1, 2").fetchall()
        gone = self.con.sql(oracle.DELETED_KEYS_SQL.format(feed=self.feed_sql())).fetchall()
        keys = []
        for i in range(n):
            kind = i % 4
            if kind in (0, 1) or not gone:
                keys.append(rng.choice(live))
            elif kind == 2:
                keys.append(rng.choice(gone))
            else:
                keys.append((f"conv_absent_{rng.randrange(10**6):06d}", rng.randrange(64)))
        return keys

    def check_final_state(self, sink, what: str) -> None:
        self.checks.op()
        out = self.path("final_state")
        sink.read().select(*self.user_cols()).write.mode("overwrite").parquet(out)
        got = f"SELECT {', '.join(self.user_cols())} FROM read_parquet('{out}/*.parquet')"
        self.checks.expect_frames_equal(self.con, got, self.want_sql(), what)


class CowBulkUpsert(_FeedWorkload):
    """Copy-on-write replay of a skewed (zipf 1.0) feed in large
    micro-batches, the last quarter adding a nullable column, then point
    reads and scans; then the near-duplicate ingest phase
    (``CorpusNearDupIngest``) in the same session."""

    name = "cow_bulk_upsert"
    N_BUCKETS = 16
    PER_BATCH = 17_000

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer, checks):
        super().__init__(spark, work, seed, seconds, tracer, checks)
        self.corpus = CorpusNearDupIngest(spark, work, seed, seconds, tracer, checks)

    def close(self) -> None:
        self.corpus.close()
        super().close()

    def user_cols(self) -> list[str]:
        return USER_COLS + ["score"]

    def feed_sql(self) -> str:
        return f"read_parquet('{self.path('feed')}/*.parquet')"

    def _make_batches(self, out: str, n_batches: int, per_batch: int, seed: int):
        """Write the seeded feed (the oracle reads it) and cache its
        pre-split micro-batches, outside the timer as in bench.py."""
        evolve_from = n_batches - max(1, n_batches // 4)
        n = n_batches * per_batch
        feed = with_batch_id(
            synthetic_change_feed(self.spark, n, n_convs=n // 50, zipf_skew=1.0,
                                  seed=seed, n_partitions=CORES),
            n_batches,
        ).withColumn(
            "score",
            F.when(
                (F.col("batch_id") >= evolve_from) & (F.col("batch_seq") % 7 != 0),
                F.col("turn_idx") * F.lit(0.5),
            ),
        )
        feed.write.parquet(out)
        full = self.spark.read.parquet(out)
        batches = []
        for b in range(n_batches):
            part = full.filter(F.col("batch_id") == b).drop("batch_id")
            batches.append((part if b >= evolve_from else part.drop("score")).persist())
        # one job fills every batch's cache and counts it
        tagged = [p.select(F.lit(b).alias("b")) for b, p in enumerate(batches)]
        union = tagged[0]
        for t in tagged[1:]:
            union = union.unionByName(t)
        per_batch = dict(union.groupBy("b").count().collect())
        counts = [per_batch.get(b, 0) for b in range(n_batches)]
        return batches, counts

    def prepare(self) -> None:
        self.corpus.generate()
        with ThreadPoolExecutor(max_workers=1) as pool:
            expected = pool.submit(self.corpus.expected)
            t = time.perf_counter()
            with self.span("feed.gen"):
                self.batches, self.batch_events = self._make_batches(
                    self.path("feed"), self.scaled(4, lo=2), self.PER_BATCH, self.seed)
            self.feed_gen_s = time.perf_counter() - t
            self.keys = self.pick_keys(self.scaled(3, lo=3))
            # warm-up: the same plan shapes (a plain and the evolved batch,
            # 16 buckets, point read, scan) on a separate table
            warm = SnapshotMergeSink(self.spark, self.path("warm_table"), n_buckets=self.N_BUCKETS)
            for b, part in enumerate((self.batches[0], self.batches[-1])):
                warm.apply_batch(part, batch_id=b)
            warm.read_keys([self.keys[0]]).collect()
            for _ in range(3):  # a scan is short; its JIT warm-up takes several
                materialise(warm.read())
            self.table = self.path("table")
            self.corpus.prepare()
            self.corpus.expected_out = expected.result()

    def run(self) -> None:
        self.untimed_s = 0.0
        sink = SnapshotMergeSink(self.spark, self.table, n_buckets=self.N_BUCKETS)
        t0 = time.perf_counter()
        for b, part in enumerate(self.batches):
            self.checks.op()
            t = time.perf_counter()
            self.traced_apply(sink, part, b, [self.table])
            self.batch_s.append(time.perf_counter() - t)
        self.write_s = time.perf_counter() - t0
        self.events = sum(self.batch_events)
        self.lookups = self.timed_lookups(sink, self.keys, self.user_cols())
        # a scan here is ~0.2 s and jittery, so take the median of more
        self.scan_s = self.timed_scans(sink, 9)
        self.corpus.run()
        self.untimed_s += self.corpus.untimed_s
        self.wall_s = time.perf_counter() - t0 - self.untimed_s
        self.written_bytes = sum(tree_files(self.table).values()) + self.corpus.written_bytes
        self.sink = sink
        for part in self.batches:
            part.unpersist()

    def check(self) -> None:
        self.check_final_state(self.sink, "final read() vs latest-wins oracle")
        self.check_lookups(self.lookups, self.want_sql(), ["conv_id", "turn_idx"], "read_keys")
        self.corpus.check()
        self.extras.update(self.corpus.extras)
        if self.tracer.enabled:
            self.manifest_figures(self.sink)
            self.extras["live_rows"] = self.con.sql(f"SELECT count(*) FROM ({self.want_sql()})").fetchone()[0]


class MorStreamTail(_FeedWorkload):
    """Merge-on-read streaming tail of many small feed files, then point
    reads and scans against the live delta chains, then maintenance."""

    name = "mor_stream_tail"
    N_BUCKETS = 16
    PER_FILE = 3_000
    WARM_FILES = 3

    def feed_sql(self) -> str:
        """Every chunk, whether the stream has seen it yet or not."""
        globs = [f"'{self.path(d)}/*.parquet'" for d in ("feed", "pending")
                 if os.path.isdir(self.path(d)) and os.listdir(self.path(d))]
        return f"read_parquet([{', '.join(globs)}])"

    def _app(self) -> StreamingApply:
        return StreamingApply(
            self.spark, self.path("feed"), self.path("state"), self.path("ckpt"),
            lineage_root=self.path("lineage"), n_buckets=self.N_BUCKETS,
            max_files_per_trigger=1, write_mode="mor", delta_layout="single",
        )

    def prepare(self) -> None:
        # chains fold at 8 deltas: the 5th timed trigger compacts inline,
        # and the reads after the stream meet chains of 2 or more deltas
        n_files = self.scaled(7, lo=7)
        n_chunks = n_files + self.WARM_FILES
        t = time.perf_counter()
        with self.span("feed.gen"):
            raw = self.path("feed_raw")
            feed = with_batch_id(
                synthetic_change_feed(self.spark, n_chunks * self.PER_FILE,
                                      n_convs=n_chunks * self.PER_FILE // 20, seed=self.seed,
                                      n_partitions=CORES),
                n_chunks,
            )
            feed.repartition(n_chunks, "batch_id").write.partitionBy("batch_id").parquet(raw)
            os.makedirs(self.path("feed"))
            os.makedirs(self.path("pending"))
            for b in range(n_chunks):
                d = os.path.join(raw, f"batch_id={b}")
                (f,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
                dest = "feed" if b < self.WARM_FILES else "pending"
                os.rename(os.path.join(d, f), self.path(dest, f"chunk-{b:05d}.parquet"))
        self.feed_gen_s = time.perf_counter() - t
        # warm-up on the real table: the stream's first triggers apply the
        # warm chunks, then point reads and scans run, so the JIT has
        # compiled the hot paths before the timer
        self.app = self._app()
        self.app.run_available()
        self.warm_events = self.WARM_FILES * self.PER_FILE
        self.keys = self.pick_keys(self.scaled(3, lo=3))
        self.app.sink.read_keys([self.keys[0]]).collect()
        for _ in range(2):
            materialise(self.app.sink.read())
        for f in sorted(os.listdir(self.path("pending"))):
            os.rename(self.path("pending", f), self.path("feed", f))
        self.app = self._app()  # restarts from the checkpoint, as a redeploy would
        self.roots = [self.path("state"), self.path("lineage")]
        self.files_before = tree_files(*self.roots)

    def _wrap_stream(self) -> None:
        """Spans around the stream's apply and lineage calls, installed
        on the instance from outside (traced run only)."""
        sink, lineage = self.app.sink, self.app.lineage
        apply_batch, append = sink.apply_batch, lineage.append

        def traced_apply(batch, batch_id, **kw):
            return self.traced_apply(sink, batch, batch_id, self.roots, apply=apply_batch, **kw)

        def traced_append(df, batch_id):
            with self.span("lineage", batch_id=batch_id):
                return append(df, batch_id)

        sink.apply_batch = traced_apply
        lineage.append = traced_append
        self._unwrap = lambda: (setattr(sink, "apply_batch", apply_batch),
                                setattr(lineage, "append", append))

    def run(self) -> None:
        self.untimed_s = 0.0
        if self.tracer.enabled:
            self._wrap_stream()
        t0 = time.perf_counter()
        q = self.app.start(available_now=True)
        q.awaitTermination()
        self.write_s = time.perf_counter() - t0
        with self.untimed():
            # bytes written by the stream, read before compaction and GC
            self.written_bytes = created_bytes(self.files_before, tree_files(*self.roots))[1]
            if self.tracer.enabled:
                self._unwrap()
        sink = self.app.sink
        self.lookups = self.timed_lookups(sink, self.keys, USER_COLS)
        self.scan_s = self.timed_scans(sink, 3)
        with self.untimed():
            if self.tracer.enabled:
                self.manifest_figures(sink)
                files0 = tree_files(*self.roots)
        self.checks.op()
        with self.span("compact") as rec:
            folded = sink.compact()
        if rec is not None:
            with self.untimed():
                rec["attrs"].update(bytes=created_bytes(files0, tree_files(*self.roots))[1],
                                    delta_refs_folded=folded.get("delta_refs_folded", 0))
        self.checks.op()
        with self.span("gc") as rec:
            freed = sink.expire_snapshots()
        if rec is not None:
            rec["attrs"]["bytes_freed"] = freed["bytes_freed"]
        self.scan_after_s = self.timed_scans(sink, 2, "scan_after_compact")
        self.wall_s = time.perf_counter() - t0 - self.untimed_s
        self.sink = sink
        self.progress = [p for p in q.recentProgress if "addBatch" in p["durationMs"]]
        self.batch_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in self.progress]
        # numInputRows counts a micro-batch once per action run on it, so
        # the event count comes from the feed files instead
        self.events = self.con.sql(f"SELECT count(*) FROM {self.feed_sql()}").fetchone()[0] - self.warm_events

    def check(self) -> None:
        self.check_final_state(self.sink, "final read() after compact+gc vs latest-wins oracle")
        self.check_lookups(self.lookups, self.want_sql(), ["conv_id", "turn_idx"], "read_keys")
        self.checks.op()
        applied = self.app.lineage.read().agg(F.sum("events_applied")).first()[0]
        n_feed = self.con.sql(f"SELECT count(*) FROM {self.feed_sql()}").fetchone()[0]
        self.checks.expect(applied == n_feed,
                           f"lineage events_applied {applied} != feed events {n_feed}")
        if self.tracer.enabled:
            self._trigger_spans()
            self.extras["live_rows"] = self.con.sql(f"SELECT count(*) FROM ({self.want_sql()})").fetchone()[0]

    def _trigger_spans(self) -> None:
        """Trigger spans from the query's progress reports; the apply and
        lineage spans of the same batch become their children."""
        by_batch = {}
        for p in self.progress:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            dur = p["durationMs"]
            by_batch[p["batchId"]] = self.tracer.add(
                "trigger", start, start + dur["triggerExecution"] / 1000.0,
                trigger_ms=dur["triggerExecution"], add_batch_ms=dur.get("addBatch", 0),
                events=self.PER_FILE)
        for s in self.tracer.spans:
            if s["name"] in ("apply", "lineage") and s["attrs"].get("batch_id") in by_batch:
                s["parent"] = by_batch[s["attrs"]["batch_id"]]


# --------------------------------------------------------------- corpus


def _gen_sf_module(root: str):
    """The repository's sf-shaped data generator (tools/gen_sf.py)."""
    spec = importlib.util.spec_from_file_location("gen_sf", os.path.join(root, "tools", "gen_sf.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class CorpusNearDupIngest(Workload):
    """The near-duplicate ingest phase that ``cow_bulk_upsert`` runs after
    its replay: a starting corpus plus arriving batches of documents and
    embeddings; each batch is classified (exact, MinHash near-dup,
    embedding near-dup) against persistent index tables and then indexed
    itself.  It shares the run's Spark session, tracer and checks."""

    name = "corpus_neardup_ingest"
    N_BUCKETS = 8
    # 0.3x the sf0.1 documents and embeddings
    N_DOCS = 1_500
    N_VECS = 450
    START_SHARE = 0.7
    # oracle id remap: corpus rows get even ids, batch rows odd ids,
    # ordered the way the engine orders them (see expected)
    BIG = 10**9
    ORACLES = (  # name, module oracle, table it reads, id column, columns, id order
        ("exact", dd.incremental_exact_dedup_sql, "documents", "doc_id", "text", True),
        ("neardup", dd.incremental_neardup_sql, "documents", "doc_id", "text", False),
        ("emb_neardup", sim.incremental_emb_neardup_sql, "embeddings", "vec_id", "embedding", False),
    )

    def _split(self, n: int, rng) -> np.ndarray:
        u = rng.random(n)
        part = 1 + ((u - self.START_SHARE) / (1 - self.START_SHARE) * self.n_batches).astype(np.int64)
        return np.where(u < self.START_SHARE, 0, np.minimum(part, self.n_batches))

    def generate(self) -> None:
        """The seeded inputs, from the repository's sf-shaped generator."""
        gen = _gen_sf_module(os.getcwd())
        self.n_batches = self.scaled(1, lo=1)
        rng = np.random.default_rng(self.seed)
        docs = gen.gen_documents(self.N_DOCS, seed=self.seed)[["doc_id", "text"]]
        docs["part"] = self._split(len(docs), rng)
        emb = gen.gen_embeddings(self.N_VECS, seed=self.seed + 1)[["vec_id", "embedding"]]
        emb["embedding"] = [v.tolist() for v in emb["embedding"]]
        emb["part"] = self._split(len(emb), rng)
        self.docs_pd, self.emb_pd = docs, emb
        self.con.register("docs_all", docs)

    def expected(self) -> dict:
        """Each arriving batch's classifications by the modules' own DuckDB
        oracles, as Arrow tables.  They depend on the inputs only, so they
        are computed on a connection of their own, in a thread during
        set-up: planning ``incremental_emb_neardup_sql`` alone takes about
        14 s (its band expression has about 3,000 terms).

        An oracle splits its input by id parity: rows indexed before batch
        ``b`` get even ids, batch rows odd ids.  The map keeps the order the
        engine sees: doc/vec id order for the capped band indexes, and
        (arrival, id) order for the hash index, whose first writer keeps
        the canonical id."""
        con = oracle.connect()
        try:
            con.register("docs_in", self.docs_pd)
            con.register("emb_in", self.emb_pd)
            out = {}
            for b in range(1, self.n_batches + 1):
                for name, sql, table, id_col, cols, by_arrival in self.ORACLES:
                    src = "docs_in" if table == "documents" else "emb_in"
                    rank = f"part * {self.BIG} + {id_col}" if by_arrival else id_col
                    con.execute(
                        f"CREATE OR REPLACE TABLE {table} AS "
                        f"SELECT 2 * ({rank}) AS {id_col}, {cols} FROM {src} WHERE part < {b} "
                        f"UNION ALL SELECT 2 * ({rank}) + 1 AS {id_col}, {cols} FROM {src} WHERE part = {b}")
                    out[b, name] = con.execute(sql()).arrow()
            return out
        finally:
            con.close()

    def prepare(self) -> None:
        self.docs = self.spark.createDataFrame(
            self.docs_pd, "doc_id long, text string, part long").persist()
        self.emb = self.spark.createDataFrame(
            self.emb_pd, "vec_id long, embedding array<float>, part long").persist()
        self.docs.count()
        self.emb.count()
        # the starting corpus is indexed before the run: it is the state
        # the arriving batches are classified against
        self.hidx = SnapshotMergeSink(self.spark, self.path("hash_index"),
                                      n_buckets=self.N_BUCKETS, key_cols=["text_hash"])
        self.bidx = SnapshotMergeSink(self.spark, self.path("band_index"), n_buckets=self.N_BUCKETS,
                                      key_cols=["band_idx", "band_val", "doc_id"],
                                      bucket_cols=["band_idx", "band_val"])
        self.eidx = SnapshotMergeSink(self.spark, self.path("emb_index"), n_buckets=self.N_BUCKETS,
                                      key_cols=["band_idx", "bucket", "vec_id"],
                                      bucket_cols=["band_idx", "bucket"])
        self.roots = [self.hidx.root, self.bidx.root, self.eidx.root]
        self._index(0)
        # warm-up: classify a small slice of the first batch (results
        # discarded, no index change)
        warm_docs = self.docs.filter((F.col("part") == 1) & (F.col("doc_id") % 10 == 0))
        warm_emb = self.emb.filter((F.col("part") == 1) & (F.col("vec_id") % 10 == 0))
        self._classify(1, warm_docs, warm_emb, self.path("warm_out"))

    def _index(self, b: int) -> None:
        nd = self.docs.filter(F.col("part") == b)
        ne = self.emb.filter(F.col("part") == b)
        for sink, events, kw in (
                (self.hidx, dd.hash_index_events(nd, batch_seq=b), {"update_only_nulls": True}),
                (self.bidx, dd.band_index_events(nd, batch_seq=b), {}),
                (self.eidx, sim.emb_band_index_events(ne, batch_seq=b), {})):
            self.traced_apply(sink, events, b, self.roots, span_name="index.apply", **kw)

    def _classify(self, b: int, nd, ne, out: str) -> None:
        corpus_docs = self.docs.filter(F.col("part") < b)
        corpus_emb = self.emb.filter(F.col("part") < b)
        cached: list = []
        with self.span("docdedup.exact"):
            known = self.hidx.read_prune_for(nd.select(F.md5("text").alias("text_hash")))
            dd.incremental_exact_dedup(known, nd).write.parquet(f"{out}/exact")
        with self.span("docdedup.neardup"):
            bands = dd.minhash_bands(nd).persist()
            cached.append(bands)
            index = self.bidx.read_prune_for(bands.select("band_idx", "band_val"))
            dd.incremental_neardup(
                index.select("band_idx", "band_val", "doc_id"), nd, corpus_docs,
                batch_bands=bands, cache_registry=cached,
            ).write.parquet(f"{out}/neardup")
        with self.span("similarity.emb_neardup"):
            ebands = sim._melt_bands(ne, sim.NEARDUP_BANDS, sim.LSH_ROWS, sim.DIM).persist()
            cached.append(ebands)
            eindex = self.eidx.read_prune_for(ebands.select("band_idx", "bucket"))
            sim.incremental_emb_neardup(
                eindex.select("band_idx", "bucket", "vec_id"), ne, corpus_emb,
                batch_bands=ebands, cache_registry=cached,
            ).write.parquet(f"{out}/emb_neardup")
        for df in cached:
            df.unpersist()

    def _want_index_sql(self) -> str:
        """Hash index after every batch: first writer wins, so the
        canonical doc is the lowest doc_id of the earliest part."""
        return ("SELECT md5(text) AS text_hash, "
                f"arg_min(doc_id, part * {self.BIG} + doc_id) AS canonical_doc_id "
                f"FROM docs_all WHERE part <= {self.n_batches} GROUP BY 1")

    def run(self) -> None:
        """The timed arriving batches: classify, then index."""
        self.untimed_s = 0.0
        with self.untimed():
            files0 = tree_files(*self.roots)
        for b in range(1, self.n_batches + 1):
            self.checks.op(6)  # three classifications, three index applies
            nd = self.docs.filter(F.col("part") == b)
            ne = self.emb.filter(F.col("part") == b)
            t = time.perf_counter()
            with self.span("batch", batch_id=b):
                self._classify(b, nd, ne, self.path("out", str(b)))
                with self.span("docdedup.index_apply"):
                    self._index(b)
            self.batch_s.append(time.perf_counter() - t)
        with self.untimed():
            self.written_bytes = created_bytes(files0, tree_files(*self.roots))[1]

    def _unmap(self, col: str, by_arrival: bool) -> str:
        return f"({col} // 2) % {self.BIG}" if by_arrival else f"{col} // 2"

    def check(self) -> None:
        pairs = {"docdedup.pairs_found": 0, "similarity.pairs_found": 0}
        for b in range(1, self.n_batches + 1):
            out = self.path("out", str(b))
            self.con.register("_expected", self.expected_out[b, "exact"])
            want = (f"SELECT {self._unmap('doc_id', True)} AS doc_id, text_hash, "
                    f"{self._unmap('canonical_doc_id', True)} AS canonical_doc_id, is_duplicate "
                    "FROM _expected")
            got = f"SELECT doc_id, text_hash, canonical_doc_id, is_duplicate FROM read_parquet('{out}/exact/*.parquet')"
            self.checks.expect_frames_equal(self.con, got, want, f"incremental_exact_dedup batch {b}")

            self.con.register("_expected", self.expected_out[b, "neardup"])
            want = (f"SELECT {self._unmap('doc_id', False)} AS doc_id, "
                    f"{self._unmap('dup_of', False)} AS dup_of, jaccard FROM _expected")
            got = f"SELECT doc_id, dup_of, jaccard FROM read_parquet('{out}/neardup/*.parquet')"
            self.checks.expect_frames_equal(self.con, got, want, f"incremental_neardup batch {b}")
            pairs["docdedup.pairs_found"] += self.con.sql(f"SELECT count(*) FROM ({got})").fetchone()[0]

            self.con.register("_expected", self.expected_out[b, "emb_neardup"])
            want = (f"SELECT {self._unmap('vec_id', False)} AS vec_id, "
                    f"{self._unmap('dup_of', False)} AS dup_of, cosine FROM _expected")
            got = f"SELECT vec_id, dup_of, cosine FROM read_parquet('{out}/emb_neardup/*.parquet')"
            self.checks.expect_frames_equal(self.con, got, want, f"incremental_emb_neardup batch {b}")
            pairs["similarity.pairs_found"] += self.con.sql(f"SELECT count(*) FROM ({got})").fetchone()[0]
        # the hash index the next batch would be classified against
        self.checks.op()
        got = self.path("hash_index_state")
        self.hidx.read().select("text_hash", "canonical_doc_id").write.parquet(got)
        self.checks.expect_frames_equal(
            self.con, f"SELECT text_hash, canonical_doc_id FROM read_parquet('{got}/*.parquet')",
            self._want_index_sql(), "hash index after the batches vs first-writer oracle")
        self.extras.update(pairs)


WORKLOADS = {w.name: w for w in (CowBulkUpsert, MorStreamTail)}
