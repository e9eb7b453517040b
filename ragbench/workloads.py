"""The benchmark's workloads: inputs, one unit of work, and the check of
every unit's output against benchmark-side ground truth.

Each workload drives the program only through its public functions
(``session.get_spark``, ``plans.pipeline``, ``streaming.stream``) on
parquet files generated from the seed. Module attributes are resolved
at call time, so the tracer's wrappers see every call.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from . import gen
from .spans import PKG, Tracer

CHAIN_RECALL_FLOOR = 0.9
TOP_K = 5


def _program():
    import importlib

    pipeline = importlib.import_module(f"{PKG}.plans.pipeline")
    stream = importlib.import_module(f"{PKG}.streaming.stream")
    return pipeline, stream


def _timed(tracer: Tracer | None, name: str, fn):
    return tracer.call(name, fn) if tracer is not None else fn()


@dataclass
class UnitResult:
    wall: float
    errors: list[str]
    info: dict = field(default_factory=dict)


# -- corpus_prep -------------------------------------------------------------

class CorpusPrep:
    """One unit = ``pipeline.prepare_corpus`` over the whole corpus,
    aggregated to one collected row."""

    name = "corpus_prep"

    def __init__(self, seed: int, work: str, tiny: bool):
        self.n_docs = 200 if tiny else 800
        self.warmup_s = 4.0 if tiny else 22.0
        self.min_warmup_units = 1 if tiny else 4
        self.corpus = gen.make_corpus(seed, self.n_docs)
        self.path = os.path.join(work, "corpus")
        os.makedirs(self.path)
        gen.write_docs(os.path.join(self.path, "part-00000.parquet"), self.corpus.docs)
        self.kept_first: int | None = None

    def sizes(self) -> dict:
        kinds = Counter(k for k, _ in self.corpus.clusters)
        return {
            "docs": self.n_docs,
            "planted_duplicates": self.corpus.n_planted,
            "clusters": dict(kinds),
            "chain_lengths": sorted(
                len(m) for k, m in self.corpus.clusters if k == "chain"
            ),
        }

    def setup(self, spark) -> float:
        self.df = spark.read.parquet(self.path)
        return 0.0

    def unit(self, spark, tracer: Tracer | None) -> UnitResult:
        from pyspark.sql import functions as F

        pipeline, _ = _program()
        merged = F.when(
            F.col("component_id") != F.col("doc_id"),
            F.struct("doc_id", "component_id"),
        )
        t0 = time.perf_counter()
        out = pipeline.prepare_corpus(self.df)
        row = _timed(
            tracer,
            "pipeline.action",
            lambda: out.agg(
                F.count("*").alias("n"),
                F.sum(F.col("keep").cast("long")).alias("kept"),
                F.sum(F.col("keep_quality").cast("long")).alias("kept_quality"),
                F.collect_list(merged).alias("merged"),
            ).collect()[0],
        )
        wall = time.perf_counter() - t0
        return self.check(row, wall)

    def check(self, row, wall: float) -> UnitResult:
        errors = []
        n = self.n_docs
        if row["n"] != n:
            errors.append(f"{row['n']} output rows for {n} docs")
        if row["kept_quality"] != n:
            errors.append(f"quality filter kept {row['kept_quality']} of {n} clean docs")
        comp = {r["doc_id"]: r["component_id"] for r in row["merged"]}
        if row["kept"] != n - len(comp):
            errors.append(f"kept {row['kept']} != {n} docs - {len(comp)} merged")
        if self.kept_first is None:
            self.kept_first = row["kept"]
        elif row["kept"] != self.kept_first:
            errors.append(f"kept {row['kept']} differs from first unit's {self.kept_first}")
        c = lambda d: comp.get(d, d)  # noqa: E731
        pairs = found = 0
        chain_pairs = chain_found = 0
        for kind, members in self.corpus.clusters:
            src = c(members[0])
            for m in members[1:]:
                same = c(m) == src
                pairs += 1
                found += same
                if kind == "chain":
                    chain_pairs += 1
                    chain_found += same
                elif not same:
                    errors.append(f"{kind} copy {m} not merged with source {members[0]}")
        chain_recall = chain_found / max(chain_pairs, 1)
        if chain_recall < CHAIN_RECALL_FLOOR:
            errors.append(f"chain recall {chain_recall:.3f} < {CHAIN_RECALL_FLOOR}")
        return UnitResult(
            wall, errors[:5],
            {"kept": row["kept"], "planted_recall": found / max(pairs, 1),
             "chain_recall": chain_recall},
        )

    def candidate_pairs(self, spark, tracer: Tracer) -> dict:
        """Distinct LSH candidate pairs of the last traced unit, and the
        share of them that lie inside one planted cluster."""
        from pyspark.sql import functions as F

        frame = tracer.captured.get("dedup.lsh_candidate_pairs")
        if frame is None:
            return {"candidate_pairs": 0, "pair_precision": 0.0}
        rows = (
            frame.select(
                F.least("doc_a", "doc_b").alias("a"),
                F.greatest("doc_a", "doc_b").alias("b"),
            )
            .distinct()
            .collect()
        )
        cluster = {d: i for i, (_, m) in enumerate(self.corpus.clusters) for d in m}
        inside = sum(
            1 for r in rows
            if r["a"] in cluster and cluster.get(r["b"]) == cluster[r["a"]]
        )
        return {
            "candidate_pairs": len(rows),
            "pair_precision": inside / max(len(rows), 1),
        }


# -- rag_search --------------------------------------------------------------

def read_index(index: str) -> tuple[Counter, int, int, int]:
    """(chunks per doc key, vec_id count, distinct vec_ids, partitions)
    read straight from the parquet files, without Spark."""
    vec_ids = pq.read_table(index, columns=["vec_id"]).column("vec_id").to_pylist()
    per_doc = Counter(v.rsplit(":", 1)[0] for v in vec_ids)
    parts = sum(1 for d in os.listdir(index) if d.startswith("source_file="))
    return per_doc, len(vec_ids), len(set(vec_ids)), parts


def list_files(index: str) -> tuple[int, int]:
    """(parquet files, bytes) under an index directory."""
    files = size = 0
    for root, _, names in os.walk(index):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, f))
    return files, size


class RagSearch:
    """Set-up drains a backlog of transcript files through the streaming
    ingest (``run_stream`` over ``read_document_stream``, 2 files per
    trigger, ``pipeline.run_once`` with a ledger per micro-batch) into a
    fresh vector index. One unit = ``pipeline.search`` for one query,
    k=5, collected: a closed loop with one client."""

    name = "rag_search"

    def __init__(self, seed: int, work: str, tiny: bool):
        self.n_files, self.docs_per_file = (2, 4) if tiny else (4, 16)
        self.warmup_s = 2.0 if tiny else 15.0
        self.min_warmup_units = 1 if tiny else 6
        self.work = work
        self.tr = gen.make_transcripts(seed, self.n_files, self.docs_per_file, "transcripts")
        self.src = os.path.join(work, "src")
        os.makedirs(self.src)
        for f, docs in enumerate(self.tr.files):
            gen.write_docs(os.path.join(self.src, f"part-{f:05d}.parquet"), docs)
        self.queries = gen.make_queries(seed, self.tr, 500)
        self.next_q = 0
        self.drains: list[dict] = []

    def sizes(self) -> dict:
        exp = self.tr.expected_chunks()
        return {
            "files": self.n_files,
            "docs_per_file": self.docs_per_file,
            "docs": len(exp),
            "chunks": sum(exp.values()),
            "files_per_trigger": 2,
            "probe_share": 0.5,
            "k": TOP_K,
        }

    def drain(self, spark, tag: str) -> dict:
        """Drain the whole backlog into a fresh index/ledger/checkpoint;
        returns the drain's record, checked against ground truth."""
        pipeline, stream = _program()
        d = os.path.join(self.work, tag)
        index, ledger = os.path.join(d, "index"), os.path.join(d, "ledger")

        def batch_fn(df, epoch):
            pipeline.run_once(spark, df, index, ledger_path=ledger)

        t0 = time.perf_counter()
        q = stream.run_stream(
            stream.read_document_stream(spark, self.src, 2),
            batch_fn,
            os.path.join(d, "checkpoint"),
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        rec = {
            "index": index,
            "wall": wall,
            "batches": [p["durationMs"]["triggerExecution"] / 1e3 for p in progress],
            "plan_s": [p["durationMs"].get("queryPlanning", 0) / 1e3 for p in progress],
            "add_batch_s": [p["durationMs"].get("addBatch", 0) / 1e3 for p in progress],
            "wal_commit_s": [p["durationMs"].get("walCommit", 0) / 1e3 for p in progress],
        }
        rec.update(self.check_index(index, ledger))
        self.drains.append(rec)
        return rec

    def check_index(self, index: str, ledger: str) -> dict:
        exp = self.tr.expected_chunks()
        per_doc, n_vec, n_distinct, parts = read_index(index)
        errors = []
        if per_doc != Counter(exp):
            bad = [k for k in exp if per_doc.get(k) != exp[k]]
            errors.append(f"{len(bad)} docs with wrong chunk counts, e.g. {bad[:3]}")
        if n_distinct != n_vec:
            errors.append(f"{n_vec - n_distinct} duplicate vec_ids")
        keys = Counter(pq.read_table(ledger, columns=["key"]).column("key").to_pylist())
        if keys != Counter({k: 1 for k in exp}):
            errors.append(f"ledger holds {sum(keys.values())} rows for {len(exp)} docs")
        files, size = list_files(index)
        return {
            "errors": errors, "chunks": n_vec, "partitions": parts,
            "files": files, "bytes": size,
        }

    def setup(self, spark) -> float:
        """Drain into the search index; a failed index check makes the
        run incorrect (see ``drains``) but searches still run."""
        rec = self.drain(spark, "index-search")
        self.index = rec["index"]
        return rec["wall"]

    def unit(self, spark, tracer: Tracer | None) -> UnitResult:
        pipeline, _ = _program()
        qid, text, src = self.queries[self.next_q % len(self.queries)]
        self.next_q += 1
        qdf = spark.createDataFrame([(qid, text)], "query_id long, query_text string")
        t0 = time.perf_counter()
        res = pipeline.search(spark, self.index, qdf, k=TOP_K)
        rows = _timed(tracer, "pipeline.action", res.collect)
        wall = time.perf_counter() - t0
        errors = []
        if len(rows) != TOP_K or sorted(r["rank"] for r in rows) != list(range(1, TOP_K + 1)):
            errors.append(f"query {qid}: {len(rows)} rows, ranks {[r['rank'] for r in rows]}")
        if src is not None:
            top = [r["vec_id"] for r in rows if r["rank"] == 1]
            if top != [src]:
                errors.append(f"probe {qid}: rank 1 is {top}, expected {src}")
        return UnitResult(wall, errors, {"probe": src is not None})


WORKLOADS = {w.name: w for w in (CorpusPrep, RagSearch)}
