"""The three workloads. Each drives the system only through public
calls: ``VechordService.handle``, ``DynamicPipeline``,
``VechordRegistry.*`` and ``operators.*``.

A workload has two parts. ``load`` is its share of set-up (input load
and corpus append), run several times so set-up is reported as a
median. ``run`` is the measured part: ``seconds`` sets how much work it
does (``work_units``), and it returns the end-to-end figures under
their workload-specific names. Correctness checks count into
``Checks`` and never stop the run.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
from gen import TOPK

PROBES = 4  # IVF cells scanned per vector / MaxSim query
PACK_BUDGET = 2048


def work_units(seconds: float, unit_s: float) -> int:
    """Measured work for ``--seconds``: whole units of about ``unit_s``
    seconds each on a 4-core box, at least one. A fixed count, not a
    deadline, so no run stops half a unit earlier than another."""
    return max(1, round(seconds / unit_s))


class Checks:
    """Operations attempted and failed, checks included."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def op(self, what: str, fn, *args, **kwargs):
        """Run one operation; an exception counts as a failed operation
        and returns None, so the run goes on."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - the benchmark must keep running
            self.failed += 1
            self.failures.append(what)
            traceback.print_exc(file=sys.stderr)
            return None


def dir_bytes(path: Path) -> int:
    return sum(
        (Path(d) / f).stat().st_size
        for d, _, files in os.walk(path)
        for f in files
    )


def dir_files(path: Path) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files
        if not f.startswith((".", "_"))
    )


def median_ms(walls: list[float]) -> float:
    return statistics.median(walls) * 1e3


class Workload:
    name = ""

    def __init__(self, spark, tracer, work: Path, seed: int, seconds: float) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.checks = Checks()
        self.samples: dict[str, int] = {}
        self.walls_ms: dict[str, list[float]] = {}  # every timed sample, for the report file
        self.layers: dict[str, float] = {}  # traced-run layer figures


# ------------------------------------------------------------------ rag_ingest
class RagIngest(Workload):
    """Batches of documents arrive through ``POST /api/pipeline``
    (op=index: regex chunker -> hash embedder -> BM25 keyword column).
    The vector and keyword indexes are built once after the first
    batch; every later batch is followed by ``POST
    /api/maintenance/chunk {"op": "auto"}``. After each batch, fresh
    reads search for a sentence of a document just ingested and must
    find that document (read-your-writes). No query repeats."""

    name = "rag_ingest"
    STEPS = [
        {"kind": "chunker", "provider": "regex", "args": {"size": 200, "overlap": 0}},
        {"kind": "embedder", "provider": "hash", "args": {"dim": gen.DIM}},
        {"kind": "keyword", "provider": "bm25"},
    ]

    def generate(self) -> str:
        self.inp = gen.ingest_inputs(self.seed)
        return self.inp.fingerprint

    def load(self, rep: int) -> None:
        from vechord_spark.plans.dynamic import DynamicPipeline
        from vechord_spark.registry import VechordRegistry
        from vechord_spark.service import VechordService

        self.root = self.work / f"reg{rep}"
        self.reg = VechordRegistry("ingest", str(self.root), self.spark)
        self.pipe = DynamicPipeline.from_steps(self.reg, self.STEPS)
        self.svc = VechordService(self.reg, self.pipe)

    def _post(self, kind: str, path: str, payload: dict, request: str):
        t0 = time.perf_counter()
        with self.tracer.span(f"service.{kind}", request):
            res = self.checks.op(
                f"{kind} {request}", self.svc.handle, "POST", path,
                body=json.dumps(payload).encode(),
            )
        wall = time.perf_counter() - t0
        if res is None:
            return None, wall
        status, _, body = res
        if not self.checks.check(status == 200, f"{kind} {request} status {status}"):
            return None, wall
        return json.loads(body), wall

    def run(self) -> dict:
        t = self.tracer
        t.wrap(self.pipe, "run_index", "dynamic.run_index")
        t.wrap(self.pipe, "run_search", "dynamic.run_search")
        t.wrap(self.reg, "maintain", "registry.maintain")
        t.wrap(self.reg, "extend_vector_index", "ivf.extend")
        t.wrap(self.reg, "extend_keyword_index", "bm25.extend")
        t.wrap(self.reg, "compact_index", "registry.compact_index")
        t.wrap(self.reg, "recluster_vector_index", "ivf.recluster")
        ingest_wall = build_wall = 0.0
        searchable = hits = reads = user_bytes = 0
        search_walls: list[float] = []
        self.actions: dict[str, int] = {}
        # batch 0 and the index builds, then batches with maintenance
        n_batches = 1 + min(work_units(self.seconds, 15.0), len(self.inp.batches) - 1)
        for k, batch in enumerate(self.inp.batches[:n_batches]):
            res, wall = self._post(
                "index", "/api/pipeline", {"op": "index", "docs": batch}, f"batch{k}"
            )
            ingest_wall += wall
            if res is not None:
                self.checks.check(
                    res.get("document") == len(batch),
                    f"batch{k} stored {res.get('document')} of {len(batch)} documents",
                )
            if k == 0:
                t0 = time.perf_counter()
                with self.tracer.span("ivf.build"):
                    self.checks.op("ivf build", self.reg.build_vector_index, "chunk")
                with self.tracer.span("bm25.build"):
                    self.checks.op("bm25 build", self.reg.build_keyword_index, "chunk")
                build_wall = time.perf_counter() - t0
            else:
                res, wall = self._post(
                    "maintain", "/api/maintenance/chunk", {"op": "auto"}, f"maintain{k}"
                )
                ingest_wall += wall
                for a in (res or {}).get("actions", []):
                    self.actions[a["op"]] = self.actions.get(a["op"], 0) + 1
            searchable += len(batch)
            user_bytes += self.inp.user_bytes[k]
            # the first batch gets one read: the first search of the
            # session, on the freshly built layout, checked but untimed.
            # Timed reads all follow maintenance: reads of the layout
            # the builds leave take a third longer (more files), and a
            # median over two such populations jumps between them.
            for j, (doc_id, sentence) in enumerate(self.inp.probes[k][: 1 if k == 0 else None]):
                res, wall = self._post(
                    "search", "/api/pipeline",
                    {"op": "search", "query": sentence, "topk": TOPK}, f"read{k}.{j}",
                )
                if k:
                    search_walls.append(wall)
                uids = [c["uid"] for c in (res or {}).get("chunks", [])]
                found = any(u.split("-")[0] == str(doc_id) for u in uids)
                hits += found
                reads += 1
                self.checks.check(found, f"fresh read of doc {doc_id} missed: {uids}")
        stored = self.checks.op(
            "count documents", lambda: self.reg.load("document").count()
        )
        self.checks.check(
            stored == searchable, f"document table holds {stored} of {searchable}"
        )
        self.samples = {"batches": n_batches, "timed_searches": len(search_walls)}
        self.walls_ms = {"search": [w * 1e3 for w in search_walls]}
        if self.tracer.enabled:
            self._trace_layers()
        return {
            "ingest_docs_per_s": searchable / (ingest_wall + build_wall),
            "index_build_s": build_wall,
            "search_p50_ms": median_ms(search_walls),
            "read_your_writes": hits / reads,
            "storage_bytes_per_user_byte": dir_bytes(self.root) / user_bytes,
        }

    def _trace_layers(self) -> None:
        """Layer figures only the traced run pays for: index layout
        stats, standalone chunk / embed calls on the first batch, and
        one corpus funnel pass (see ``CorpusFunnel``)."""
        from vechord_spark.functions.embed import HashEmbedder
        from vechord_spark.operators.chunk import chunk_documents

        stats = self.checks.op("index stats", self.reg.index_stats, "chunk") or {}
        ivf, bm25 = stats.get("ivf", {}), stats.get("bm25", {})
        docs = self.spark.createDataFrame(
            [(d["doc_id"], d["text"]) for d in self.inp.batches[0]],
            "doc_id long, text string",
        ).localCheckpoint()
        args = self.STEPS[0]["args"]
        with self.tracer.span("chunk") as sp_chunk:
            chunks = chunk_documents(docs, "doc_id", "text", **args).localCheckpoint()
            n_chunks = chunks.count()
        with self.tracer.span("embed") as sp_embed:
            dims = chunks.select(
                F.size(HashEmbedder(gen.DIM).embed_documents(F.col("chunk_text"))).alias("d")
            ).agg(F.sum("d")).first()[0]
        self.checks.check(dims == n_chunks * gen.DIM, "standalone embed dimension")
        self.layers.update({
            "ivf.files": ivf.get("files", 0),
            "ivf.cell_skew": ivf.get("skew", 0.0),
            "bm25.files": bm25.get("files", 0),
            "chunk.s": sp_chunk.duration,
            "chunk.chunks_per_doc": n_chunks / len(self.inp.batches[0]),
            "embed.rows_per_s": n_chunks / sp_embed.duration,
            "registry.files_written": dir_files(self.root),
            "maintain.extends": self.actions.get("extend", 0),
            "maintain.compactions": self.actions.get("compact_index", 0),
            "maintain.reclusters": self.actions.get("recluster", 0),
        })
        funnel = CorpusFunnel(self.spark, self.tracer, self.work, self.seed, self.seconds)
        funnel.checks = self.checks
        funnel.generate()
        funnel.load(0)
        self.layers.update(funnel.run())


# ------------------------------------------------------------------ rag_search
class RagSearch(Workload):
    """A seeded corpus is appended through ``VechordRegistry.append``
    and indexed (IVF, BM25, multivector IVF). After one untimed cycle
    of single queries, a batch phase makes one batch call per index;
    then a closed loop with one client sends single queries, cycling
    through the four types (IVF-probe vector, BM25, MaxSim, hybrid RRF)
    and drawing each query Zipf from a pool, so hot queries repeat."""

    name = "rag_search"
    TYPES = ("ivf", "bm25", "maxsim", "hybrid")

    def generate(self) -> str:
        self.inp = gen.search_inputs(self.seed)
        self.schedule = gen.zipf_schedule(self.seed, 4096, len(self.inp.pool_texts))
        return self.inp.fingerprint

    def load(self, rep: int) -> None:
        from vechord_spark.registry import VechordRegistry
        from vechord_spark.spec import Column, Keyword, MultiVector, TableSpec, Vector

        self.root = self.work / f"reg{rep}"
        self.reg = VechordRegistry("search", str(self.root), self.spark)
        spec = TableSpec("corpus", [
            Column("uid", "long", primary_key=True),
            Column("text", Keyword()),
            Column("vec", Vector(gen.DIM)),
            Column("mvec", MultiVector(gen.DIM)),
        ])
        self.reg.register(spec)
        inp = self.inp
        pdf = pd.DataFrame({
            "uid": inp.uids,
            "text": inp.texts,
            "vec": list(inp.vecs),
            "mvec": [list(m) for m in inp.mvecs],
        })
        df = self.spark.createDataFrame(pdf, spec.struct_type())
        with self.tracer.span("registry.append"):
            self.reg.append("corpus", df)

    def _single(self, kind: str, i: int):
        from vechord_spark.operators.fusion import rrf_topk
        from vechord_spark.operators.topk import ranked_topk

        inp, reg = self.inp, self.reg
        if kind == "ivf":
            df = reg.search_by_vector("corpus", inp.pool_vecs[i].tolist(), topk=TOPK, probes=PROBES)
        elif kind == "bm25":
            df = reg.search_by_keyword("corpus", inp.pool_texts[i], topk=TOPK)
        elif kind == "maxsim":
            df = reg.search_by_multivec(
                "corpus", inp.pool_mvecs[i].tolist(), topk=TOPK, probes=PROBES
            )
        else:
            vec = reg.search_by_vector("corpus", inp.pool_vecs[i].tolist(), topk=TOPK, probes=PROBES)
            kw = reg.search_by_keyword("corpus", inp.pool_texts[i], topk=TOPK)
            legs = [
                ranked_topk(vec, [F.col("distance").asc(), F.col("uid").asc()], TOPK)
                .select("uid", "rank"),
                kw.select("uid", "rank") if "rank" in kw.columns else ranked_topk(
                    kw, [F.col("score").desc(), F.col("uid").asc()], TOPK
                ).select("uid", "rank"),
            ]
            df = rrf_topk(legs, "uid", topk=TOPK)
        return df.collect()

    def _cycle(self, uids: set, walls: dict[str, list[float]] | None) -> None:
        """One query of each type, each checked; timed into ``walls``
        unless it is None."""
        for kind in self.TYPES:
            n = self._n
            i = self.schedule[n % len(self.schedule)]
            t0 = time.perf_counter()
            with self.tracer.span(f"{kind}.search", f"q{n}"):
                rows = self.checks.op(f"{kind} query {n}", self._single, kind, i)
            if walls is not None:
                walls[kind].append(time.perf_counter() - t0)
            if rows is not None:
                got = [r["uid"] for r in rows]
                want = self.inp.pool_kw_rows[i] if kind == "bm25" else TOPK
                self.checks.check(
                    len(got) == want and set(got) <= uids,
                    f"{kind} query {n} returned {len(got)} rows, expected {want}",
                )
            self._n += 1

    def _batch(self) -> tuple[float, dict]:
        """One batch call per index; returns the wall of all three and
        the (query_id, uid) rows of each, checked for count."""
        reg, inp = self.reg, self.inp
        calls = {
            "ivf": lambda: reg.search_by_vector_batch(
                "corpus", inp.batch_vecs.tolist(), topk=TOPK, probes=PROBES
            ),
            "bm25": lambda: reg.search_by_keyword_batch("corpus", inp.batch_texts, topk=TOPK),
            "maxsim": lambda: reg.search_by_multivec_batch(
                "corpus", inp.batch_mvecs.tolist(), topk=TOPK, probes=PROBES
            ),
        }
        rows, walls = {}, {}
        for kind, call in calls.items():
            t0 = time.perf_counter()
            with self.tracer.span(f"{kind}.batch"):
                rows[kind] = self.checks.op(
                    f"{kind} batch", lambda: call().select("query_id", "uid").collect()
                )
            walls[f"{kind}_batch"] = [(time.perf_counter() - t0) * 1e3]
        self.walls_ms.update(walls)
        wall = sum(w[0] for w in walls.values()) / 1e3
        for kind, got in rows.items():
            want = sum(inp.batch_kw_rows) if kind == "bm25" else len(inp.batch_texts) * TOPK
            self.checks.check(
                got is not None and len(got) == want,
                f"{kind} batch returned {None if got is None else len(got)} rows, expected {want}",
            )
        return wall, rows

    def run(self) -> dict:
        reg = self.reg
        t0 = time.perf_counter()
        for kind, build in (
            ("ivf", reg.build_vector_index),
            ("bm25", reg.build_keyword_index),
            ("mvivf", reg.build_multivec_index),
        ):
            with self.tracer.span(f"{kind}.build"):
                self.checks.op(f"{kind} build", build, "corpus")
        build_wall = time.perf_counter() - t0

        uids = set(self.inp.uids.tolist())
        self._n = 0
        # an untimed cycle warms the query paths, the batch phase warms
        # them further before the timed cycles, which are whole, so
        # every run weighs the four types equally
        self._cycle(uids, None)
        batch_wall, rows = self._batch()
        walls: dict[str, list[float]] = {kind: [] for kind in self.TYPES}
        for _ in range(work_units(self.seconds, 5.0)):
            self._cycle(uids, walls)

        inp = self.inp
        b = len(inp.batch_texts)
        found: dict[int, set] = {}
        for r in rows["ivf"] or []:
            found.setdefault(r["query_id"], set()).add(r["uid"])
        recall = float(np.mean([
            len(found.get(q, set()) & set(inp.batch_truth[q].tolist())) / TOPK
            for q in range(b)
        ]))
        stored = self.checks.op("count corpus", lambda: reg.load("corpus").count())
        self.checks.check(stored == len(inp.uids), f"corpus holds {stored} of {len(inp.uids)}")
        self.samples = {
            "single_queries": sum(map(len, walls.values())), "batch_queries": 3 * b
        }
        self.walls_ms.update({kind: [x * 1e3 for x in w] for kind, w in walls.items()})
        if self.tracer.enabled:
            stats = self.checks.op("index stats", reg.index_stats, "corpus") or {}
            lists = stats.get("ivf", {}).get("lists", 0)
            self.layers["ivf.probe_fraction"] = PROBES / lists if lists else 0.0
            self.layers["registry.files_written"] = dir_files(self.root)
        p50 = {f"{kind}_p50_ms": median_ms(w) for kind, w in walls.items()}
        return {
            "index_build_s": build_wall,
            # the types differ by up to 3x in cost, so the median of the
            # pooled samples would sit in the gap between two types and
            # jump with a single sample; a mean of per-type medians does not
            "search_p50_ms": statistics.mean(p50.values()),
            **p50,
            "batch_qps": 3 * b / batch_wall,
            "recall_at_10": recall,
            "storage_bytes_per_user_byte": dir_bytes(self.root) / inp.user_bytes,
        }


# ------------------------------------------------ corpus funnel (traced only)
class CorpusFunnel(Workload):
    """A raw shard with planted duplicates and low-quality documents
    passes quality gate -> exact dedup -> MinHash candidates -> n-gram
    Jaccard verify -> near-dup removal -> train/val split -> sequence
    packing -> parquet sink. Each stage is materialised before the
    next, so every stage has its own span. No registry, no index.

    Not a workload of its own: a third workload's session start, warm-up
    and set-up would not fit the benchmark's time budget beside two RAG
    workloads with enough samples to be steady. The traced run of
    rag_ingest runs one pass, so the funnel's layers are still
    measured; its figures land in the layer metrics, not the gated
    end-to-end ones."""

    def generate(self) -> str:
        self.inp = gen.funnel_inputs(self.seed)
        return self.inp.fingerprint

    def load(self, rep: int) -> None:
        self.raw = self.work / f"raw{rep}"
        pdf = pd.concat([
            pd.DataFrame({"doc_id": s.ids, "text": s.texts, "shard": k})
            for k, s in enumerate(self.inp.shards)
        ])
        self.spark.createDataFrame(pdf, "doc_id long, text string, shard int").write.partitionBy(
            "shard"
        ).parquet(str(self.raw))

    def _pass(self, k: int, shard: gen.FunnelShard) -> dict:
        from vechord_spark.functions.text import token_count
        from vechord_spark.operators.dedup import (
            drop_exact_duplicates,
            drop_near_duplicates,
            minhash_bands,
            minhash_candidate_pairs,
            ngram_jaccard,
        )
        from vechord_spark.operators.pack import bin_utilization, pack_sequences
        from vechord_spark.operators.quality import gopher_pass_filter
        from vechord_spark.operators.sample import split_assign

        def ids(df) -> set[int]:
            return {r[0] for r in df.select("doc_id").collect()}

        raw = self.spark.read.parquet(str(self.raw / f"shard={k}"))
        with self.tracer.span("quality.gate"):
            gated = raw.filter(gopher_pass_filter("text")).localCheckpoint()
            kept = ids(gated)
        with self.tracer.span("dedup.exact"):
            exact = drop_exact_duplicates(gated, "doc_id", "text").localCheckpoint()
            n_exact = exact.count()
        with self.tracer.span("dedup.minhash"):
            bands = minhash_bands(exact, "doc_id", "text").persist()
            cands = minhash_candidate_pairs(exact, "doc_id", "text", bands=bands).localCheckpoint()
            n_cands = cands.count()
            bands.unpersist()
        with self.tracer.span("dedup.verify"):
            pairs = ngram_jaccard(
                exact, "doc_id", "text", threshold=0.7, candidates=cands
            ).localCheckpoint()
            n_pairs = pairs.count()
        with self.tracer.span("dedup.components"):
            deduped = drop_near_duplicates(
                exact, "doc_id", pairs.select("doc_a", "doc_b")
            ).localCheckpoint()
            survivors = ids(deduped)
        with self.tracer.span("sample.split"):
            split = split_assign(
                deduped, "doc_id", {"train": 0.9, "val": 0.1}, salt="perfbench"
            ).localCheckpoint()
            split.count()
        with self.tracer.span("pack"):
            sink = str(self.work / "sink" / f"shard={k}")
            pack_sequences(
                split.select("doc_id", "split", "text", token_count("text").alias("n_tokens")),
                "doc_id", "n_tokens", PACK_BUDGET, "split",
            ).write.parquet(sink)
            util = bin_utilization(
                self.spark.read.parquet(sink), "n_tokens", PACK_BUDGET, "split"
            ).agg(F.sum("n_docs"), F.avg("fill_frac")).first()

        c = self.checks
        c.check(kept == shard.good, f"shard {k}: gate kept {len(kept)} of {len(shard.good)} good")
        c.check(
            len(kept) - n_exact == len(shard.exact_dups),
            f"shard {k}: exact dedup removed {len(kept) - n_exact}, planted {len(shard.exact_dups)}",
        )
        c.check(util[0] == len(survivors), f"shard {k}: sink holds {util[0]} of {len(survivors)}")
        removed = kept - survivors
        planted = shard.exact_dups | shard.near_dups
        tp = len(removed & planted)
        return {
            "tp": tp, "removed": len(removed), "planted": len(planted),
            "gate_pass": len(kept) / len(shard.ids), "cands": n_cands, "pairs": n_pairs,
            "fill": util[1],
        }

    def run(self) -> dict:
        shard = self.inp.shards[0]
        t0 = time.perf_counter()
        with self.tracer.span("funnel.pass", "shard0"):
            res = self.checks.op("funnel shard 0", self._pass, 0, shard)
        wall = time.perf_counter() - t0
        if res is None:
            return {}
        precision = res["tp"] / max(1, res["removed"])
        recall = res["tp"] / max(1, res["planted"])
        self.layers.update({
            "funnel.docs_per_s": len(shard.ids) / wall,
            "dedup.f1": 2 * precision * recall / max(1e-12, precision + recall),
            "quality.pass_fraction": res["gate_pass"],
            "dedup.candidate_pairs": res["cands"],
            "dedup.candidate_precision": res["pairs"] / max(1, res["cands"]),
            "pack.utilization": res["fill"],
        })
        return self.layers


WORKLOADS = {w.name: w for w in (RagIngest, RagSearch)}
