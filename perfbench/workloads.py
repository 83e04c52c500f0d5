"""The three workloads: ``ingest``, ``retrieve`` and ``dataprep``.

Each workload has a set-up step (repeated, the median is ``setup_s``), an
op that the closed loop times, and an oracle that checks the op's output
with numpy/pyarrow, without calling the engine. The op calls the engine's
public entry points as a user would; in the traced run the same calls run
with the engine functions they compose wrapped in layer spans (see
trace.py).
"""

from __future__ import annotations

import dataclasses
import functools
import hashlib
import os
import shutil

import numpy as np
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from chatbot_spark.operators import dedup
from chatbot_spark.operators.ann import IVFIndex
from chatbot_spark.operators.chunking import scan_markdown_dir
from chatbot_spark.operators.dedup import exact_dedup, minhash_lsh_pairs, resolve_duplicate_clusters
from chatbot_spark.operators.hnsw import NSWGraphIndex
from chatbot_spark.operators.textstats import quality_score
from chatbot_spark.io.tables import load_table
from chatbot_spark.plans import ingest as ingest_plan
from chatbot_spark.plans import retrieve as retrieve_plan
from chatbot_spark.plans.ingest import ingest_documents
from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

from perfbench import gen, stats

BACKEND = "tiny"
DIM = 64
K = 10


@dataclasses.dataclass
class Check:
    """Oracle verdict for one op plus the quality counts it measured."""
    reasons: list[str] = dataclasses.field(default_factory=list)
    quality: dict = dataclasses.field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.reasons

    def expect(self, cond: bool, msg: str) -> None:
        if not cond and len(self.reasons) < 20:
            self.reasons.append(msg)


def dir_usage(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; hidden and ``_`` marker files
    are not data."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def read_dataset(path: str, columns: list[str]):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def vectors(tbl, col: str = "embedding") -> np.ndarray:
    arr = tbl.column(col).combine_chunks()
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return flat.reshape(len(arr), -1) if len(arr) else flat.reshape(0, DIM)


def rng_for(seed: int, *purpose: int) -> np.random.Generator:
    return np.random.default_rng([seed, *purpose])


class Workload:
    name = ""
    # the first rep also pays the session's first Spark job, so the median
    # of three is a warm rep
    setup_reps = 3
    # the loop runs until --seconds have passed and at least this many ops
    # completed, so op_s_p50 is not a single op
    min_ops = 2

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        # stored bytes over input bytes when ops store nothing themselves
        self.stored_ratio = 1.0

    def setup(self, rep: int) -> list[str]:
        """Write what the ops read and read it back through the engine;
        returns the reasons the read-back was rejected, if any."""
        raise NotImplementedError

    def make_input(self, i: int, warmup: bool = False):
        """Op ``i``'s seeded input, or warm-up input ``i``."""
        raise NotImplementedError

    def run(self, inp):
        raise NotImplementedError

    def check(self, inp, out) -> Check:
        raise NotImplementedError

    def n_items(self, inp) -> int:
        """What items_per_s counts: docs, or queries for retrieve."""
        raise NotImplementedError

    def layer_metrics(self, inp, out) -> dict:
        return {}

    def cleanup(self, inp) -> None:
        shutil.rmtree(inp.root, ignore_errors=True)


# --------------------------------------------------------------- ingest

@dataclasses.dataclass
class IngestInput:
    root: str
    batch: gen.MarkdownBatch

    @property
    def table(self) -> str:
        return os.path.join(self.root, "table")

    @property
    def index(self) -> str:
        return os.path.join(self.root, "nsw")


class Ingest(Workload):
    """Write path: markdown batch -> chunk -> embed -> partitioned table ->
    NSW graph index, into an empty table each op."""
    name = "ingest"
    BATCH_DOCS = 48
    POOL = 4
    NSW_NLIST = 4

    def setup(self, rep: int) -> list[str]:
        # the seeded op batches the loop starts with, scanned once by the
        # engine's markdown source: docs per (batch, component) must match
        shutil.rmtree(os.path.join(self.work, "pool"), ignore_errors=True)
        self._pool = {i: self._write(i) for i in range(self.POOL)}
        docs = scan_markdown_dir(self.spark, os.path.join(self.work, "pool"), skip_patterns=[])
        where = F.regexp_extract("doc_url", r"/pool/op(\d+)/docs/([^/]+)/", 0)
        got = {r[0]: r[1] for r in docs.groupBy(where).count().collect()}
        want = {f"/pool/op{i}/docs/{name}/": inp.batch.docs_per_code[code]
                for i, inp in self._pool.items()
                for name, code in gen.INGEST_COMPONENTS if code in inp.batch.docs_per_code}
        return [] if got == want else ["the engine's markdown scan miscounts the set-up batches"]

    def _write(self, i: int, warmup: bool = False) -> IngestInput:
        root = os.path.join(self.work, f"warmup{i}" if warmup else f"pool/op{i}")
        batch = gen.write_markdown_batch(
            rng_for(self.seed, 1, 10**6 + i if warmup else i),
            os.path.join(root, "docs"), self.BATCH_DOCS)
        return IngestInput(root, batch)

    def make_input(self, i: int, warmup: bool = False) -> IngestInput:
        if not warmup and i in self._pool:
            return self._pool.pop(i)
        return self._write(i, warmup)

    def n_items(self, inp: IngestInput) -> int:
        return inp.batch.n_docs

    def run(self, inp: IngestInput):
        tr = self.tr
        with tr.wrap([(ingest_plan, "split_documents", tr.as_layer("chunking.split")),
                      (ingest_plan, "embed_documents", tr.as_layer("embed.docs"))]):
            for name, code in gen.INGEST_COMPONENTS:
                if code not in inp.batch.docs_per_code:
                    continue
                docs = scan_markdown_dir(self.spark, inp.batch.component_dir(name), skip_patterns=[])
                # traced, chunking and embedding run in spans of their own, so
                # io.write keeps the projection and the partitioned write
                with tr.span("io.write", "action"):
                    ingest_documents(
                        docs, component=name, component_code=code,
                        max_chunk_size=gen.MAX_CHUNK_SIZE, backend=BACKEND, dim=DIM,
                        output_path=inp.table,
                    )
        corpus = self.spark.read.parquet(inp.table)
        idx = tr.build("hnsw.build", lambda: NSWGraphIndex.build(
            corpus, vec_col="embedding", id_col="id", nlist=self.NSW_NLIST))
        idx.graph = tr.layer("hnsw.build", lambda: idx.graph)
        tr.action("hnsw.write", lambda: idx.write(inp.index))
        return None

    def check(self, inp: IngestInput, out) -> Check:
        c = Check()
        tbl = read_dataset(inp.table, ["id", "embedding", "document", "metadata", "component_code"])
        docs = tbl.column("document").to_pylist()
        c.expect(len(docs) > 0, "empty corpus")
        c.expect(all(d is not None and 0 < len(d) <= gen.MAX_CHUNK_SIZE for d in docs),
                 f"a chunk is empty or longer than {gen.MAX_CHUNK_SIZE} chars")
        v = vectors(tbl)
        c.expect(v.shape[1:] == (DIM,), f"vectors are not {DIM}-d: {v.shape}")
        if v.shape[1:] == (DIM,):
            c.expect(bool(np.all(np.abs(np.linalg.norm(v, axis=1) - 1.0) < 1e-3)),
                     "a vector is not unit length")
        ids = tbl.column("id").to_pylist()
        c.expect(len(set(ids)) == len(ids), "duplicate chunk ids")
        codes = tbl.column("component_code").to_pylist()
        urls = [dict(m)["doc_url"] for m in tbl.column("metadata").to_pylist()]
        seen: dict[int, set] = {}
        for code, url in zip(codes, urls):
            seen.setdefault(int(code), set()).add(url)
        partitions = {int(e.split("=", 1)[1]) for e in os.listdir(inp.table)
                      if e.startswith("component_code=")}
        c.expect(partitions == set(inp.batch.docs_per_code),
                 f"partitions {sorted(partitions)} != generated {sorted(inp.batch.docs_per_code)}")
        c.expect({k: len(s) for k, s in seen.items()} == inp.batch.docs_per_code,
                 "docs per component differ from the generated batch")
        graph = read_dataset(os.path.join(inp.index, "graph"), ["id"])
        c.expect(sorted(graph.column("id").to_pylist()) == sorted(ids),
                 "index rows differ from corpus rows")
        stored = dir_usage(inp.table)[1] + dir_usage(inp.index)[1]
        c.quality["stored_bytes"] = stored
        c.quality["input_bytes"] = inp.batch.raw_bytes
        c.quality["chunks"] = len(docs)
        return c

    def layer_metrics(self, inp: IngestInput, out) -> dict:
        tf, tb = dir_usage(inp.table)
        xf, xb = dir_usage(inp.index)
        split_rows = sum(s.counts.get("rows", 0) for s in self.tr.op_spans()
                         if s.name == "chunking.split")
        return {
            "chunking.chunks_per_doc": split_rows / inp.batch.n_docs,
            "io.files_written": tf + xf,
            "io.bytes_written": tb + xb,
        }


# ------------------------------------------------------------- retrieve

@dataclasses.dataclass
class Corpus:
    ids: np.ndarray  # object array of str
    vecs: np.ndarray  # (n, DIM) float64
    codes: np.ndarray  # (n,) int
    docs: list[str]


@dataclasses.dataclass
class RetrieveInput:
    texts: list[str]

    def frame(self, spark):
        return spark.createDataFrame(
            list(enumerate(self.texts)), "query_id long, query_text string")


def md5_score(query: str, doc: str) -> float:
    """The hash cross-scorer's value for a (query, passage) pair: the first
    32 bits of md5(query || 0x01 || passage) over 2^32 (inputs here are
    under the scorer's token caps)."""
    digest = hashlib.md5(f"{query}\x01{doc}".encode("utf-8")).hexdigest()
    return int(digest[:8], 16) / 4294967296.0


class Retrieve(Workload):
    """Read path: one question batch answered three ways against a seeded
    corpus with a written IVF and a written NSW index."""
    name = "retrieve"
    setup_reps = 2
    # one timed op: its run is already the longest (set-up builds two
    # indexes), and the benchmark's total run time has no room for a second
    min_ops = 1
    CORPUS_CHUNKS = 2000
    QUERIES = 8
    IVF_NLIST = 8
    NSW_NLIST = 4
    COMPONENT_CODES = [1, 2]

    def setup(self, rep: int) -> list[str]:
        from chatbot_spark.models.tiny_encoder import TinyEncoder

        root = os.path.join(self.work, "corpus")
        shutil.rmtree(root, ignore_errors=True)
        table = os.path.join(root, "table")
        raw_bytes = gen.write_corpus_table(
            rng_for(self.seed, 2, 0), table, self.CORPUS_CHUNKS, stats.cpus(),
            TinyEncoder("tiny-v1", DIM).encode)
        corpus = self.spark.read.parquet(table)
        self.ivf_path = os.path.join(root, "ivf")
        self.nsw_path = os.path.join(root, "nsw")
        IVFIndex.build(corpus, vec_col="embedding", id_col="id",
                       nlist=self.IVF_NLIST).write(self.ivf_path)
        NSWGraphIndex.build(corpus, vec_col="embedding", id_col="id",
                            nlist=self.NSW_NLIST).write(self.nsw_path)
        self.corpus = corpus
        tbl = read_dataset(table, ["id", "embedding", "document", "component_code"])
        self.oracle = Corpus(
            np.array(tbl.column("id").to_pylist(), dtype=object), vectors(tbl),
            np.array(tbl.column("component_code").to_pylist(), dtype=np.int64),
            tbl.column("document").to_pylist(),
        )
        self.row_of = {x: i for i, x in enumerate(self.oracle.ids)}
        # the bytes the engine wrote: the corpus table is the benchmark's own
        self.stored_ratio = sum(dir_usage(p)[1] for p in (self.ivf_path, self.nsw_path)) / raw_bytes
        self.cfgs = {
            "nsw": RetrieveConfig(mode="universal", index_path=self.nsw_path,
                                  index_kind="nsw", recall_slo=0.95, backend=BACKEND, dim=DIM),
            "ivf": RetrieveConfig(mode="universal", index_path=self.ivf_path,
                                  index_kind="ivf", recall_slo=0.95, backend=BACKEND, dim=DIM),
            "component": RetrieveConfig(mode="component", component_codes=self.COMPONENT_CODES,
                                        rerank_enabled=True, backend=BACKEND, dim=DIM),
        }
        return []

    def make_input(self, i: int, warmup: bool = False) -> RetrieveInput:
        texts = gen.questions(rng_for(self.seed, 3, 10**6 + i if warmup else i), self.QUERIES)
        return RetrieveInput(texts)

    def n_items(self, inp: RetrieveInput) -> int:
        return len(inp.texts)

    # the span the collect of each mode's result is timed in
    COLLECT_SPAN = {"nsw": "hnsw.search", "ivf": "ann.ivf_search", "component": "rerank.rerank"}

    def run(self, inp: RetrieveInput) -> dict:
        q = inp.frame(self.spark)
        tr = self.tr
        out = {}
        with tr.wrap([(retrieve_plan, "embed_queries", tr.as_layer("embed.queries")),
                      (retrieve_plan, "_per_component_topk", tr.as_layer("topk.component")),
                      (retrieve_plan, "rerank", tr.as_layer("rerank.rerank"))]):
            for mode, cfg in self.cfgs.items():
                res = tr.build("retrieve.plan", lambda: retrieve(q, self.corpus, cfg))
                out[mode] = tr.action(self.COLLECT_SPAN[mode], res.collect)
        return out

    def check(self, inp: RetrieveInput, out: dict) -> Check:
        from chatbot_spark.models.tiny_encoder import TinyEncoder

        c = Check()
        o = self.oracle
        qv = TinyEncoder("tiny-v1", DIM).encode(inp.texts).astype(np.float64)
        dist = np.sqrt(np.maximum(
            (qv ** 2).sum(1)[:, None] + (o.vecs ** 2).sum(1)[None, :] - 2 * qv @ o.vecs.T, 0.0))
        recall_sum = 0.0
        n_recall = 0
        for mode, rows in out.items():
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(int(r["query_id"]), []).append(r)
            c.expect(set(by_q) == set(range(len(inp.texts))), f"{mode}: queries missing")
            answers, truth = {}, {}
            for qi, rs in by_q.items():
                rs.sort(key=lambda r: r["rank"])
                c.expect(len(rs) == K, f"{mode}: query {qi} has {len(rs)} rows, want {K}")
                c.expect([r["rank"] for r in rs] == list(range(1, len(rs) + 1)),
                         f"{mode}: query {qi} ranks are not 1..k")
                rows_idx = [self.row_of.get(r["neighbor_id"]) for r in rs]
                if any(i is None for i in rows_idx):
                    c.expect(False, f"{mode}: query {qi} returned an unknown id")
                    continue
                want = dist[qi, rows_idx]
                got = np.array([r["dist"] for r in rs], dtype=np.float64)
                c.expect(bool(np.all(np.abs(got - want) <= 1e-4)),
                         f"{mode}: query {qi} distances differ from numpy by more than 1e-4")
                if mode == "component":
                    self._check_component(c, inp.texts[qi], qi, rs, rows_idx, dist)
                    continue
                c.expect(bool(np.all(np.diff(got) >= -1e-9)),
                         f"{mode}: query {qi} distances are not ascending")
                answers[qi] = rows_idx
                truth[qi] = np.lexsort((o.ids, dist[qi]))[:K].tolist()
            if mode != "component":
                recall_sum += stats.recall_at_k(answers, truth, K) * len(truth)
                n_recall += len(truth)
        c.quality["recall_sum"] = recall_sum
        c.quality["recall_queries"] = n_recall
        return c

    def _check_component(self, c: Check, text: str, qi: int, rs, rows_idx, dist) -> None:
        o = self.oracle
        codes = o.codes[rows_idx]
        c.expect(bool(np.all(np.isin(codes, self.COMPONENT_CODES))),
                 f"component: query {qi} returned a row outside the requested partitions")
        # each row is within its partition's exact top-k (up to ties)
        for code in set(codes.tolist()):
            part = dist[qi, o.codes == code]
            kth = np.sort(part)[min(K, len(part)) - 1]
            mine = dist[qi, [i for i, cc in zip(rows_idx, codes) if cc == code]]
            c.expect(bool(np.all(mine <= kth + 1e-4)),
                     f"component: query {qi} has a row outside partition {code}'s top-{K}")
        scores = [md5_score(text, o.docs[i]) for i in rows_idx]
        c.expect(all(a >= b for a, b in zip(scores, scores[1:])),
                 f"component: query {qi} is not in rerank-score order")

    def layer_metrics(self, inp: RetrieveInput, out: dict) -> dict:
        return {"retrieve.result_rows": sum(len(rows) for rows in out.values())}

    def cleanup(self, inp) -> None:
        pass


# ------------------------------------------------------------- dataprep

QUALITY_MIN = 0.8
SHINGLE_N = 3
JACCARD_MIN = 0.5


@dataclasses.dataclass
class DataprepInput:
    root: str
    batch: gen.DataprepBatch

    @property
    def output(self) -> str:
        return os.path.join(self.root, "survivors")

    def read(self, spark):
        """The batch through the engine's table loader (``docs.parquet``)."""
        return load_table(spark, self.root, "docs")


class Dataprep(Workload):
    """LLM-data-prep path: quality filter -> exact dedup -> MinHash LSH
    near-dup pairs -> duplicate clusters -> write of the survivors."""
    name = "dataprep"
    BASE_DOCS = 1000
    POOL = 3

    def setup(self, rep: int) -> list[str]:
        # the seeded op batches the loop starts with, read once through
        # the engine's table loader: rows per batch must match
        shutil.rmtree(os.path.join(self.work, "pool"), ignore_errors=True)
        self._pool = {i: self._write(i) for i in range(self.POOL)}
        batches = [inp.read(self.spark).withColumn("op", F.lit(i)) for i, inp in self._pool.items()]
        got = {r[0]: r[1] for r in functools.reduce(
            lambda a, b: a.unionByName(b), batches).groupBy("op").count().collect()}
        want = {i: inp.batch.n_docs for i, inp in self._pool.items()}
        return [] if got == want else ["the engine's table loader miscounts the set-up batches"]

    def _write(self, i: int, warmup: bool = False) -> DataprepInput:
        root = os.path.join(self.work, f"warmup{i}" if warmup else f"pool/op{i}")
        batch = gen.write_dataprep_batch(
            rng_for(self.seed, 4, 10**6 + i if warmup else i),
            os.path.join(root, "docs.parquet"), self.BASE_DOCS, stats.cpus())
        return DataprepInput(root, batch)

    def make_input(self, i: int, warmup: bool = False) -> DataprepInput:
        if not warmup and i in self._pool:
            return self._pool.pop(i)
        return self._write(i, warmup)

    def n_items(self, inp: DataprepInput) -> int:
        return inp.batch.n_docs

    def run(self, inp: DataprepInput) -> list:
        tr = self.tr
        df = inp.read(self.spark)
        kept = tr.layer("textstats.quality",
                        lambda: df.filter(quality_score(F.col("text")) >= QUALITY_MIN))
        deduped = tr.layer("dedup.exact", lambda: exact_dedup(kept, "text", "doc_id"))

        # traced, the LSH candidates are counted where minhash_lsh_pairs
        # hands them to its exact-Jaccard verification
        def count_candidates(verify):
            return lambda cand, *a, **kw: verify(tr.layer("dedup.minhash", lambda: cand), *a, **kw)

        with tr.wrap([(dedup, "jaccard_pairs_for", count_candidates)]):
            pairs = tr.layer("dedup.minhash", lambda: minhash_lsh_pairs(
                deduped, "doc_id", "text", shingle_n=SHINGLE_N, jaccard_threshold=JACCARD_MIN))
        clusters = tr.layer("dedup.clusters", lambda: resolve_duplicate_clusters(pairs))
        survivors = tr.build("io.write", lambda: deduped.join(
            clusters.filter(F.col("doc_id") != F.col("canonical_id")).select("doc_id"),
            "doc_id", "left_anti"))
        tr.action("io.write", lambda: survivors.write.parquet(inp.output))
        return clusters.collect()

    def check(self, inp: DataprepInput, clusters: list) -> Check:
        c = Check()
        b = inp.batch
        kept = set(read_dataset(inp.output, ["doc_id"]).column("doc_id").to_pylist())
        canon = {int(r["doc_id"]): int(r["canonical_id"]) for r in clusters}
        c.expect(b.bases <= kept, f"{len(b.bases - kept)} original docs were dropped")
        c.expect(not any(x in kept for _, x in b.exact_pairs),
                 "a planted exact duplicate survived")
        c.expect(not (b.low_quality & kept), "a planted low-quality doc survived")
        c.expect(not any(x in kept for a, x in b.near_pairs
                         if a in canon and canon.get(x) == canon[a]),
                 "a detected near duplicate survived")
        c.quality["near_found"] = stats.cluster_pairs_found(canon, b.near_pairs)
        c.quality["near_planted"] = len(b.near_pairs)
        c.quality["stored_bytes"] = dir_usage(inp.output)[1]
        c.quality["input_bytes"] = b.raw_bytes
        return c

    def layer_metrics(self, inp: DataprepInput, out) -> dict:
        spans = self.tr.op_spans()
        quality_rows = next(s.counts["rows"] for s in spans
                            if s.name == "textstats.quality" and "rows" in s.counts)
        exact_rows = next(s.counts["rows"] for s in spans
                          if s.name == "dedup.exact" and "rows" in s.counts)
        minhash = [s.counts["rows"] for s in spans
                   if s.name == "dedup.minhash" and "rows" in s.counts]
        cand, verified = minhash[0], minhash[-1]
        return {
            "dedup.exact_removed": quality_rows - exact_rows,
            "dedup.lsh_candidates": cand,
            "dedup.lsh_verified_ratio": verified / cand if cand else 1.0,
        }


WORKLOADS = {w.name: w for w in (Ingest, Retrieve, Dataprep)}
