"""The two workloads. Each is driven closed-loop by one client: the
next operation starts when the previous one returned.

A workload object holds its generated inputs (built once per process
from the seed) and exposes:

- ``prepare(spark, root)``: land the inputs under ``root`` and build
  per-session state (part of set-up);
- ``step()``: one timed operation; returns (rows, job seconds, seconds
  spent in engine calls, errors);
- ``finish()``: final output checks, errors as strings;
- ``layer_metrics()``: per-layer figures gathered from traced steps;
- ``report()``: workload-specific end-to-end figures.

Calls into the engine are wrapped in ``tracer.span(name, layer)``; the
tracer records only in traced steps.
"""

from __future__ import annotations

import gzip
import json
import os
import re
import time

from pyspark.sql import functions as F

import checks
import gen
from spans import Tracer, median_or_zero

from dbitool_spark import pipeline as pl
from dbitool_spark import streaming
from dbitool_spark.ndb import NdbTable, NdbWriteConflict
from dbitool_spark.obs import EngineLog
from dbitool_spark.ops import dedup, similarity, text


def dir_files(path: str, suffix: str = "") -> list[os.stat_result]:
    out = []
    for d, _, files in os.walk(path):
        out += [os.stat(os.path.join(d, f)) for f in files if f.endswith(suffix) and not f.startswith(".")]
    return out


class Workload:
    name = ""
    # Untimed steps at the end of set-up. The first step in a fresh JVM
    # is 3-4x slower than a warm one (class loading, code generation,
    # JIT), and the next ones still run slow by a workload's own share.
    warmup_steps: int

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.spark = None
        self.traced_steps = 0
        self.samples: dict[str, list[float]] = {}
        self._mark = 0

    def sample(self, name: str, value: float) -> None:
        """Per-step figure, kept only for traced steps."""
        if self.tracer.enabled:
            self.samples.setdefault(name, []).append(value)

    def median(self, name: str) -> float:
        return median_or_zero(self.samples.get(name, []))

    def begin_step(self) -> None:
        self._mark = len(self.tracer.spans)

    def end_step(self) -> None:
        """Fold a traced step's spans into per-step sums per span name."""
        if not self.tracer.enabled:
            return
        self.traced_steps += 1
        sums: dict[str, float] = {}
        for s in self.tracer.spans[self._mark :]:
            sums[s.name] = sums.get(s.name, 0.0) + (s.end - s.start)
        for k, v in sums.items():
            self.sample("span:" + k, v)

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def report(self) -> dict[str, tuple[float, str]]:
        return {}


# --------------------------------------------------------------------------


class EtlIngest(Workload):
    """Each step is one keyed batch: its CSV lands, a CLI-style Pipeline
    converts it (csvread with PERMISSIVE quarantine, column, lookup
    against the shard dimension, column) and fans it out to gzip NDJSON
    in the landing directory and to an appended parquet archive; then
    streaming.stream_upsert_ndb drains the new landing files into the
    NdbTable. The step's job time runs from the CSV landed to the drain
    returned. Every PROBE_EVERY batches a probe lookup, a merge_upsert
    and a replay follow, each checked against the model; the landing
    and archive outputs are checked at the end."""

    name = "etl_ingest"
    # the convert-and-drain job runs 1.3-1.6x its later time in the
    # second step of a fresh JVM and 1.1-1.3x in the third
    warmup_steps = 3
    N_KEYS = 40_000
    # 8 buckets for a table of ~10^5 keys: with the default 32 every
    # batch rewrites 32 small files and the upsert time swings by +-10%
    # between batches in one process (+-4% with 8)
    N_BUCKETS = 8
    BATCH_ROWS = 16_000
    MERGE_ROWS = 1_600
    # a probe lookup, a merge_upsert and a replay after every second
    # batch: batch 1 (in the warm-up) and batch 3 (the first timed one)
    PROBE_EVERY = 2
    PROBES = 16

    def __init__(self, tracer: Tracer, seed: int):
        super().__init__(tracer)
        self.inp = gen.IngestInputs(
            seed, n_keys=self.N_KEYS, batch_rows=self.BATCH_ROWS, merge_rows=self.MERGE_ROWS, probes=self.PROBES
        )
        self.stream_run_ids: set[str] = set()
        self._wrapped = False
        self.model = gen.TableModel()
        self.i = 0
        self.lookup_times: list[float] = []
        self.out_count = 0
        self.out_hash = 0

    def prepare(self, spark, root: str) -> None:
        """Land the dimension under a fresh ``root`` and open the table
        there (created by the first batch)."""
        self.spark = spark
        self.root = root
        for d in ("incoming", "staging", "landing", "archive"):
            os.makedirs(os.path.join(root, d))
        self.dim = os.path.join(root, "dim.csv")
        with open(self.dim, "w") as f:
            f.write(self.inp.dim_csv)
        self.table = NdbTable(spark, os.path.join(root, "table"), "k", n_buckets=self.N_BUCKETS)
        self.proxy = TimedTable(self.table, self.tracer)
        self.stream = streaming.stream_ndjson(spark, os.path.join(root, "landing", "*", "*.json.gz"), gen.TABLE_SCHEMA)
        if self.tracer.active and not self._wrapped:
            self._wrap_io_modules()

    def _wrap_io_modules(self) -> None:
        """Span each io module the pipeline calls (the file reads with
        the quarantine split, and both sinks) via the public module
        registry; an untraced run keeps the unwrapped functions."""
        for mod, span in (("csvread", "io.csv_read"), ("ndjsonwrite", "io.ndjson_write"), ("parquetwrite", "io.parquet_write")):
            fn = pl.MODULES[mod]

            def wrapped(p, ins, a, _fn=fn, _span=span):
                with self.tracer.span(_span, "io"):
                    return _fn(p, ins, a)

            pl.register_module(mod)(wrapped)
        self._wrapped = True

    def _land(self, csv_text: str) -> str:
        """Write the batch beside the incoming directory, then rename it
        in, so the reader only ever sees complete files."""
        name = f"batch-{self.i:05d}.csv"
        tmp = os.path.join(self.root, "staging", name)
        with open(tmp, "w") as f:
            f.write(csv_text)
        path = os.path.join(self.root, "incoming", name)
        os.rename(tmp, path)
        return path

    def _convert(self, csv_path: str, log: EngineLog) -> None:
        tr = self.tracer
        landing = os.path.join(self.root, "landing", f"batch-{self.i:05d}")
        archive = os.path.join(self.root, "archive")
        with tr.span("pipeline.build", "pipeline"):
            p = pl.Pipeline(self.spark, log=log, errorsize=10**9)
            p.add(f"csvread:in={csv_path}:sep=|:quote=:schema={gen.CSV_SCHEMA}:quarantine=1:out=raw")
            p.add(f"csvread:in={self.dim}:sep=|:quote=:schema={gen.DIM_SCHEMA}:out=dim")
            p.add("column:in=raw:clist=k,seq,val,payload,total,shard:out=slim")
            p.add("lookup:in=slim,dim:key=shard:select=region:out=enriched")
            p.add("column:in=enriched:clist=" + ",".join(gen.TABLE_COLUMNS) + ":out=events")
            p.add(f"ndjsonwrite:in=events:out={landing}:compression=gzip")
            p.add(f"parquetwrite:in=events:out={archive}:mode=append")
        with tr.span("pipeline.run", "pipeline"):
            p.run()

    def _file_stats(self) -> None:
        vdir = os.path.join(self.table.path, f"v{max(self.table.versions())}")
        files = dir_files(vdir, ".parquet")
        new = [st for st in files if st.st_nlink == 1]
        total = sum(st.st_size for st in files)
        self.sample("ndb.files_new", len(new))
        self.sample("ndb.files_carried", len(files) - len(new))
        self.sample("ndb.rewrite_ratio", sum(st.st_size for st in new) / total if total else 0.0)
        self.sample("ndb.table_bytes", total)

    def step(self) -> tuple[int, float, float, list[str]]:
        tr, spark, i = self.tracer, self.spark, self.i
        self.begin_step()
        csv_text, good, n_bad = self.inp.batch(i)
        csv_path = self._land(csv_text)
        log = EngineLog(level=2 if tr.enabled else 1)
        t0 = time.perf_counter()
        self._convert(csv_path, log)
        with tr.span("streaming.drain", "streaming"):
            q = streaming.stream_upsert_ndb(self.stream, self.proxy, checkpoint=os.path.join(self.root, "checkpoint"), order_by="seq")
        job = time.perf_counter() - t0
        msgs = [r[2] for r in log.rows]
        quarantined = next((int(m.split()[0]) for m in msgs if m.endswith("rows quarantined")), 0)
        errs = checks.check_quarantine(i, quarantined, n_bad)
        self.model.upsert(good)
        self.out_count += len(good)
        self.out_hash = (self.out_hash + gen.multiset_hash(good)) % (1 << 64)

        mrows = []
        engine = job
        if i % self.PROBE_EVERY == self.PROBE_EVERY - 1:
            keys = self.inp.probe_keys(i)
            t0 = time.perf_counter()
            with tr.span("ndb.lookup", "ndb"):
                probe = spark.createDataFrame([(k,) for k in keys], "k bigint")
                got = [tuple(r) for r in self.table.lookup(probe, how="left").select(*gen.TABLE_COLUMNS).collect()]
            self.lookup_times.append(time.perf_counter() - t0)
            errs += checks.check_lookup(self.model, keys, got)

            mrows = self.inp.merge_batch(i)
            t1 = time.perf_counter()
            with tr.span("ndb.merge_upsert", "ndb"):
                self.table.merge_upsert(spark.createDataFrame(mrows, gen.TABLE_SCHEMA), combine=gen.COMBINE)
            with tr.span("ndb.replay", "ndb"):
                state = [tuple(r) for r in self.table.replay().select(*gen.TABLE_COLUMNS).collect()]
            engine += self.lookup_times[-1] + time.perf_counter() - t1
            self.model.merge(mrows)
            errs += checks.check_replay(self.model, state)

        if tr.enabled:
            self.stream_run_ids.add(str(q.runId))
            self.sample("streaming.batches", sum(1 for p in q.recentProgress if p.numInputRows > 0))
            self.sample("obs.quarantined_rows", quarantined)
            sink_rows = [int(m.rsplit("rows=", 1)[1]) for m in msgs if re.search(r"write@\S+ rows=\d+$", m)]
            self.sample("io.rows_in", quarantined + (sink_rows[0] if sink_rows else 0))
            self.sample("io.rows_out", sum(sink_rows))
            self.sample("io.bytes_out", sum(st.st_size for st in dir_files(os.path.join(self.root, "landing", f"batch-{i:05d}"))))
            self._file_stats()
            self.end_step()
        self.i += 1
        return self.BATCH_ROWS + len(mrows), job, engine, errs

    def finish(self) -> list[str]:
        """Landing NDJSON and the parquet archive each hold every good
        row of every batch; the table replays to the model's state."""
        import pyarrow.parquet as pq

        landed = []
        for d, _, files in os.walk(os.path.join(self.root, "landing")):
            for name in sorted(files):
                if name.endswith(".json.gz"):
                    with gzip.open(os.path.join(d, name), "rt") as f:
                        landed += [json.loads(line) for line in f]
        archived = pq.read_table(os.path.join(self.root, "archive")).to_pylist()
        state = [tuple(r) for r in self.table.replay().select(*gen.TABLE_COLUMNS).collect()]
        return (
            checks.check_rows("landing ndjson", self.out_count, self.out_hash, landed)
            + checks.check_rows("parquet archive", self.out_count, self.out_hash, archived)
            + checks.check_replay(self.model, state)
        )

    def layer_metrics(self) -> dict[str, float]:
        s = self.samples
        drains, upserts = s.get("span:streaming.drain", []), s.get("span:ndb.upsert", [])
        return {
            "pipeline.build_s": self.median("span:pipeline.build"),
            "pipeline.run_s": self.median("span:pipeline.run"),
            "io.csv_read_s": self.median("span:io.csv_read"),
            "io.ndjson_write_s": self.median("span:io.ndjson_write"),
            "io.parquet_write_s": self.median("span:io.parquet_write"),
            "io.rows_in": self.median("io.rows_in"),
            "io.rows_out": self.median("io.rows_out"),
            "io.bytes_out": self.median("io.bytes_out"),
            "obs.quarantined_rows": self.median("obs.quarantined_rows"),
            "ndb.upsert_s": self.median("span:ndb.upsert"),
            "streaming.drain_s": median_or_zero([d - u for d, u in zip(drains, upserts)]),
            "streaming.batches": sum(s.get("streaming.batches", [])),
            "ndb.merge_upsert_s": self.median("span:ndb.merge_upsert"),
            "ndb.files_new": self.median("ndb.files_new"),
            "ndb.files_carried": self.median("ndb.files_carried"),
            "ndb.rewrite_ratio": self.median("ndb.rewrite_ratio"),
            "ndb.lookup_s": self.median("span:ndb.lookup"),
            "ndb.replay_s": self.median("span:ndb.replay"),
            "ndb.table_bytes": s.get("ndb.table_bytes", [0])[-1],
            "ndb.write_conflicts": self.proxy.conflicts,
        }

    def report(self) -> dict[str, tuple[float, str]]:
        return {"lookup_p50_s": (median_or_zero(self.lookup_times), "s")}


# --------------------------------------------------------------------------


class LlmCuration(Workload):
    """Each step is one curation pass over the same corpus: markup
    stripped, quality-scored and language-identified (persisted, so the
    ops.text span holds that work, the corpus read included), exact
    dedup (persisted), MinHash near-dup pairs, keep-representative
    (persisted), a parquet write of the kept documents, then LSH top-k
    over the embeddings. Pairs, kept count and top-k are checked every
    step, the written documents at the end."""

    name = "llm_curation"
    # the second pass in a fresh JVM still runs 1.05-1.35x the later ones
    warmup_steps = 2
    N_BASES = 1_200
    N_VECTORS = 2_400
    N_QUERIES = 50
    # fewer, wider LSH tables: the lsh_topk docstring's setting for
    # high-similarity neighbors (planted clusters sit at cosine ~0.9);
    # recall lands near 0.94, so a speed-for-recall trade shows
    LSH_TABLES = 8
    LSH_BITS = 8

    def __init__(self, tracer: Tracer, seed: int):
        super().__init__(tracer)
        self.inp = gen.CurationInputs(seed, self.N_BASES, n_vectors=self.N_VECTORS, n_queries=self.N_QUERIES)
        self.last_pairs: set[tuple[int, int]] = set()
        self.recalls: dict[str, list[float]] = {"dedup": [], "ann": []}

    def prepare(self, spark, root: str) -> None:
        self.spark = spark
        self.paths = self.inp.write(os.path.join(root, "in"))
        self.out = os.path.join(root, "out", "kept.parquet")

    def step(self) -> tuple[int, float, float, list[str]]:
        tr, spark = self.tracer, self.spark
        self.begin_step()
        t0 = time.perf_counter()
        with tr.span("ops.text.clean", "ops.text"):
            raw = spark.read.parquet(self.paths["corpus"])
            docs = raw.select("doc_id", text.strip_markup(F.col("text_raw")).alias("text"))
            docs = text.lang_id(text.quality_score(docs)).select("doc_id", "text", "quality_score", "lang_pred")
            docs = docs.persist()
            docs.count()
        with tr.span("ops.dedup.exact", "ops.dedup"):
            uniq = dedup.dedup_exact(docs, ["text"]).persist()
            uniq.count()
        with tr.span("ops.dedup.minhash_pairs", "ops.dedup"):
            pairs_df = dedup.minhash_near_dup_pairs(uniq, "doc_id", "text", threshold=gen.NEAR_DUP_THRESHOLD)
            pairs = {(r[0], r[1]) for r in pairs_df.select("id_a", "id_b").collect()}
        with tr.span("ops.dedup.components", "ops.dedup"):
            kept = dedup.dedup_keep_representative(uniq, pairs_df, "doc_id").persist()
            n_kept = kept.count()
        with tr.span("io.parquet_write", "io"):
            kept.write.mode("overwrite").parquet(self.out)
        with tr.span("ops.similarity.ann_topk", "ops.similarity"):
            vecs = spark.read.parquet(self.paths["vectors"])
            queries = spark.read.parquet(self.paths["queries"])
            ann_rows = similarity.lsh_topk(
                vecs, queries, k=self.inp.k, n_tables=self.LSH_TABLES, bits=self.LSH_BITS
            ).select("query_id", "neighbor_id").collect()
        for df in (kept, uniq, docs):
            df.unpersist()
        job = time.perf_counter() - t0

        errs, recall = checks.check_pairs(self.inp, pairs)
        want_kept = len(checks.expected_kept(self.inp, pairs))
        if n_kept != want_kept:
            errs.append(f"kept {n_kept} docs, expected {want_kept}")
        got: dict[int, list[int]] = {}
        for q, n in ann_rows:
            got.setdefault(q, []).append(n)
        ann_errs, hits, ann_recall = checks.check_ann(self.inp, got)
        errs += ann_errs
        self.last_pairs = pairs
        self.recalls["dedup"].append(recall)
        self.recalls["ann"].append(ann_recall)
        if tr.enabled:
            self.sample("ops.dedup.pairs_out", len(pairs))
            self.sample("ops.similarity.ann_hits", hits)
            self.sample("io.rows_in", self.inp.n_docs + self.N_VECTORS)
            self.sample("io.rows_out", n_kept)
            self.sample("io.bytes_out", sum(st.st_size for st in dir_files(self.out)))
            self.end_step()
        return self.inp.n_docs + self.N_VECTORS, job, job, errs

    def finish(self) -> list[str]:
        import pyarrow.parquet as pq

        rows = pq.read_table(self.out).to_pylist()
        kept = {r["doc_id"]: r for r in rows}
        if len(kept) != len(rows):
            return ["kept output holds a doc id twice"]
        return checks.check_kept(self.inp, self.last_pairs, kept)

    def layer_metrics(self) -> dict[str, float]:
        return {
            "ops.text.clean_s": self.median("span:ops.text.clean"),
            "ops.dedup.exact_s": self.median("span:ops.dedup.exact"),
            "ops.dedup.minhash_pairs_s": self.median("span:ops.dedup.minhash_pairs"),
            "ops.dedup.components_s": self.median("span:ops.dedup.components"),
            "ops.dedup.pairs_out": self.median("ops.dedup.pairs_out"),
            "ops.dedup.recall": median_or_zero(self.recalls["dedup"]),
            "ops.similarity.ann_topk_s": self.median("span:ops.similarity.ann_topk"),
            "ops.similarity.ann_hits": self.median("ops.similarity.ann_hits"),
            "ops.similarity.recall": median_or_zero(self.recalls["ann"]),
            "io.parquet_write_s": self.median("span:io.parquet_write"),
            "io.rows_in": self.median("io.rows_in"),
            "io.rows_out": self.median("io.rows_out"),
            "io.bytes_out": self.median("io.bytes_out"),
        }

    def report(self) -> dict[str, tuple[float, str]]:
        return {
            "dedup_recall": (median_or_zero(self.recalls["dedup"]), "fraction"),
            "ann_recall": (median_or_zero(self.recalls["ann"]), "fraction"),
        }


# --------------------------------------------------------------------------


class TimedTable:
    """Proxy for the NdbTable handed to streaming.stream_upsert_ndb: it
    spans each upsert the stream makes (layer ndb), so the drain's own
    cost is the drain span minus these, and counts write conflicts."""

    def __init__(self, table: NdbTable, tracer: Tracer):
        self._table = table
        self._tracer = tracer
        self.conflicts = 0

    def upsert(self, df, **kwargs):
        try:
            with self._tracer.span("ndb.upsert", "ndb"):
                return self._table.upsert(df, **kwargs)
        except NdbWriteConflict:
            self.conflicts += 1
            raise


WORKLOADS = {w.name: w for w in (EtlIngest, LlmCuration)}
