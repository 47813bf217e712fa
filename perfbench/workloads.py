"""The benchmark's workloads.

Each workload generates its inputs from the seed, runs one untimed warm
iteration, measures a closed loop of operations for the run's seconds, and
checks every output outside the timed region.  An operation that raises or
whose output fails its check counts as failed.

A workload reports:
  * ``ops``: one record per timed operation (kind, wall, ok);
  * ``e2e``: its own end-to-end metrics (``build_wall_s``,
    ``query_p50_ms``, ...), each a list of samples;
  * ``units``: its operations grouped into units of work, from which
    ``run.py`` derives the metrics every workload shares.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import gen
from perfbench.procs import cpu_seconds
from perfbench.trace import Tracer, status_counts

HERE = os.path.dirname(os.path.abspath(__file__))
TRIPLE_COLS = ["subj", "pred", "obj", "obj_dt", "obj_lang", "graph"]
EX_DUP = "<http://ex.org/duplicateOf>"


@dataclass
class Op:
    kind: str
    wall_s: float
    ok: bool = True
    error: str | None = None
    info: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tiny: bool
    tracer: Tracer | None
    ops: list[Op] = field(default_factory=list)
    _n: int = 0

    @property
    def sc(self):
        return self.spark.sparkContext

    def timed(self, kind: str, fn):
        """Run one operation under its own job group; returns (Op, value)."""
        self._n += 1
        group = f"op{self._n}-{kind}"
        self.sc.setJobGroup(group, kind)
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.operation(group):
                    out = fn()
            else:
                out = fn()
            op = Op(kind, time.perf_counter() - t0)
        except Exception as e:  # an operation that raises is a failed one
            op, out = Op(kind, time.perf_counter() - t0, False, f"{type(e).__name__}: {e}"[:300]), None
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        op.info.update(group=group, t0=t0, t1=t0 + op.wall_s, cpu_s=cpu_seconds() - c0)
        op.info.update(status_counts(self.sc, group))
        self.ops.append(op)
        return op, out

    def fail(self, op: Op, why: str) -> None:
        op.ok = False
        op.error = op.error or why


def triple_set_hash(spark, path: str) -> dict:
    """Order-independent digest of a triple table: row count, distinct-row
    count and the exact sum of per-row 64-bit hashes of the distinct rows."""
    df = spark.read.parquet(path).select(*TRIPLE_COLS)
    h = F.xxhash64(*[F.coalesce(F.col(c), F.lit("\x00")) for c in TRIPLE_COLS])
    rows = df.count()
    d = df.distinct().agg(F.count(F.lit(1)).alias("n"),
                          F.sum(h.cast("decimal(38,0)")).alias("s")).collect()[0]
    digest = hashlib.sha256(f"{d['n']}:{d['s']}".encode()).hexdigest()[:16]
    return {"rows": rows, "distinct": int(d["n"]), "hash": digest}


def expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# KG pipeline workloads
# ---------------------------------------------------------------------------

STAGES = ("pages", "extracted", "base_triples", "alias_dict", "sigs", "edges",
          "mentions", "canon", "triples")


def _pipeline(spark, corpus: str, workdir: str, *, checkpoint: bool, resume: bool = False):
    from rdflib_r2r_spark.pipeline import KGPipeline

    p = KGPipeline(spark, corpus, workdir, resume=resume, count_rows=True,
                   checkpoint_stages=checkpoint)
    p.run()
    return p


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class KGSmall:
    """The fixed corpus; each iteration is a fused build, a checkpointed
    build and a resume of the checkpointed build."""

    name = "kg-small"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_docs = 50 if ctx.tiny else gen.KG_SMALL_DOCS
        self.corpus = f"{ctx.work}/input"
        self.ckpt_dir = f"{ctx.work}/kg/ckpt"

    def generate(self, out_dir: str) -> None:
        gen.kg_small_corpus(out_dir, self.ctx.seed, self.n_docs)

    def warm(self) -> None:
        # the warm iteration is the checkpointed build that the timed
        # resumes read back.  The first build of a process pays JIT and code
        # generation (26 s cold against 10-12 s warm at 5,000 docs); a
        # fused build after a checkpointed one runs warm.  Measuring a warm
        # checkpointed build too would need a second one per run, which the
        # benchmark's time budget does not hold.
        self.ckpt_op, self.ckpt = self.ctx.timed(
            "checkpointed", lambda: _pipeline(self.ctx.spark, self.corpus, self.ckpt_dir, checkpoint=True))
        if not self.ckpt_op.ok:
            raise RuntimeError(f"set-up checkpointed build failed: {self.ckpt_op.error}")

    def iteration(self, tag: str) -> dict:
        ctx, spark = self.ctx, self.ctx.spark
        d = f"{ctx.work}/kg/{tag}"
        op_f, fused = ctx.timed("fused", lambda: _pipeline(spark, self.corpus, f"{d}/fused", checkpoint=False))
        # counts read back from the fused run's intermediates, outside its wall
        if ctx.tracer is not None and fused is not None:
            self.count_layers(op_f)
        spark.catalog.clearCache()
        op_r, res = ctx.timed("resume", lambda: _pipeline(spark, self.corpus, self.ckpt_dir, checkpoint=True, resume=True))
        return {"dir": d, "fused": (op_f, fused), "resume": (op_r, res)}

    def count_layers(self, op: Op) -> None:
        tr = self.ctx.tracer
        self.ctx.sc.setJobGroup("trace-counts", "trace-counts")
        pairs = tr.captured["web.linking.candidate_pairs"].count()
        edges = tr.captured["web.linking.near_dup_edges"].count()
        mention_pairs = tr.captured["web.mentions.mention_entities"].count()
        self.ctx.sc.setLocalProperty("spark.jobGroup.id", None)
        op.info.update({
            "web.linking.candidate_pairs": pairs, "web.linking.edges": edges,
            "web.linking.pairs_per_edge": pairs / edges if edges else 0.0,
            "web.mentions.pairs": mention_pairs,
        })

    def measure(self) -> list[dict]:
        its, t0, i = [], time.perf_counter(), 0
        while not its or time.perf_counter() - t0 < self.ctx.seconds:
            its.append(self.iteration(f"it{i}"))
            i += 1
        return its

    def check(self, its: list[dict]) -> None:
        spark = self.ctx.spark
        pinned = expected()[self.name]["tiny" if self.ctx.tiny else "full"]
        op_c = self.ckpt_op
        hc = triple_set_hash(spark, f"{self.ckpt_dir}/triples")
        op_c.info.update(triples=hc["rows"], hash=hc["hash"],
                         stage_walls={n: r.seconds for n, r in self.ckpt.results.items()},
                         bytes_written=dir_bytes(self.ckpt_dir))
        if hc["hash"] != pinned:
            self.ctx.fail(op_c, f"checkpointed triple-set hash {hc['hash']} != pinned {pinned}")
        for it in its:
            op_f, _ = it["fused"]
            op_r, res = it["resume"]
            if op_f.ok:
                hf = triple_set_hash(spark, f"{it['dir']}/fused/triples")
                op_f.info.update(triples=hf["rows"], hash=hf["hash"])
                if hf != hc:
                    self.ctx.fail(op_f, f"fused {hf} != checkpointed {hc}")
            if op_r.ok:
                resumed = [n for n, r in res.results.items() if r.resumed]
                op_r.info["stages_resumed"] = len(resumed)
                if sorted(resumed) != sorted(STAGES):
                    self.ctx.fail(op_r, f"resumed {resumed}, expected all of {STAGES}")
                if res.results["triples"].rows != hc["rows"]:
                    self.ctx.fail(op_r, "resumed triple count differs from the checkpointed build")
        shutil.rmtree(f"{self.ctx.work}/kg", ignore_errors=True)

    def e2e(self) -> dict[str, list[float]]:
        ops = self.ctx.ops
        fused = [o for o in ops if o.kind == "fused" and o.ok]
        return {
            "build_wall_s": [o.wall_s for o in fused],
            "triples_per_s": [o.info["triples"] / o.wall_s for o in fused],
            "ckpt_build_wall_s": [self.ckpt_op.wall_s] if self.ckpt_op.ok else [],
            "resume_wall_s": [o.wall_s for o in ops if o.kind == "resume" and o.ok],
        }

    def units(self) -> tuple[list[list[Op]], list[float]]:
        """(the operations of each unit of work, items per second): a unit
        is a fused build and a resume, an item one triple of the fused
        build."""
        ops = [o for o in self.ctx.ops if o.kind != "checkpointed"]
        return [ops[k:k + 2] for k in range(0, len(ops), 2)], self.e2e()["triples_per_s"]

    def trace_hooks(self, tr: Tracer) -> None:
        from rdflib_r2r_spark import compiler, pipeline
        from rdflib_r2r_spark.web import components, linking, mentions, pages

        tr.wrap(pipeline.KGPipeline, "stage", "pipeline.stage", jobs=True)
        tr.wrap(pages, "pages_from_documents", "web.pages.pages_from_documents")
        tr.wrap(pipeline, "extract_text", "web.extract.extract_text")
        tr.wrap(linking, "signatures", "web.linking.signatures")
        tr.wrap(linking, "near_dup_edges", "web.linking.near_dup_edges", jobs=True, capture=True)
        tr.wrap(linking, "candidate_pairs", "web.linking.candidate_pairs", capture=True)
        tr.wrap(components, "connected_components", "web.components.connected_components", jobs=True)
        tr.wrap(mentions, "build_alias_dict", "web.mentions.build_alias_dict", jobs=True)
        tr.wrap(mentions, "mention_entities", "web.mentions.mention_entities", jobs=True, capture=True)
        tr.wrap(mentions, "mention_triples", "web.mentions.mention_triples")
        tr.wrap(compiler.SparkMappingCompiler, "compile", "compiler.compile")
        from pyspark.sql.classic.dataframe import DataFrame

        tr.wrap(DataFrame, "localCheckpoint", "localCheckpoint")
        wrap_final_planning(tr)

    def trace_layers(self, tr: Tracer) -> dict:
        ops = self.ctx.ops
        fused = [o for o in ops if o.kind == "fused" and o.ok]
        out = {}
        ck = getattr(self, "ckpt_op", None)
        if ck is not None and ck.ok:
            walls = ck.info["stage_walls"]
            for n in STAGES:
                out[f"pipeline.{n}.wall_s"] = walls.get(n, 0.0)
            out["pipeline.bytes_written"] = ck.info["bytes_written"]
            out["web.pages.ms"] = walls.get("pages", 0.0) * 1000
            out["web.extract.ms"] = walls.get("extracted", 0.0) * 1000
            out["web.mentions.ms"] = walls.get("mentions", 0.0) * 1000
        out["pipeline.lineage_s"] = tr.total_ms("pipeline.lineage_write") / 1000
        out["pipeline.stages_resumed"] = max((o.info.get("stages_resumed", 0) for o in ops), default=0)
        if fused:
            for k in ("web.linking.candidate_pairs", "web.linking.edges",
                      "web.linking.pairs_per_edge", "web.mentions.pairs"):
                out[k] = fused[-1].info[k]
        n_fused = max(len(fused), 1)
        out["web.components.rounds"] = (
            tr.count_within("localCheckpoint", "web.components.connected_components")
            - 2 * tr.counts["web.components.connected_components.calls"]
        ) / max(tr.counts["web.components.connected_components.calls"], 1)
        out["compiler.compile_ms"] = tr.total_ms("compiler.compile") / n_fused
        return out


class KGLarge(KGSmall):
    """A seeded fan-out of the corpus with planted exact-duplicate groups.
    The warm iteration is a checkpointed build, as for kg-small; the timed
    builds are fused, each checked against the checkpointed one, and every
    planted group must collapse to one canonical node."""

    name = "kg-large"

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.base_docs, self.fanout = (50, 2) if ctx.tiny else (5000, 16)
        self.n_groups, self.group_size = (2, 5) if ctx.tiny else (4, 150)
        self.groups: list[gen.DupGroup] = []

    def generate(self, out_dir: str) -> None:
        _, self.groups = gen.kg_large_corpus(out_dir, self.ctx.seed, self.base_docs,
                                             self.fanout, self.n_groups, self.group_size)

    def iteration(self, tag: str) -> dict:
        ctx, spark = self.ctx, self.ctx.spark
        d = f"{ctx.work}/kg/{tag}"
        op, fused = ctx.timed("fused", lambda: _pipeline(spark, self.corpus, f"{d}/fused", checkpoint=False))
        if ctx.tracer is not None and fused is not None:
            self.count_layers(op)
        spark.catalog.clearCache()
        return {"dir": d, "fused": (op, fused)}

    def check(self, its: list[dict]) -> None:
        spark = self.ctx.spark
        hc = triple_set_hash(spark, f"{self.ckpt_dir}/triples")
        self.ckpt_op.info.update(triples=hc["rows"], hash=hc["hash"],
                                 stage_walls={n: r.seconds for n, r in self.ckpt.results.items()},
                                 bytes_written=dir_bytes(self.ckpt_dir))
        for it in its:
            op, _ = it["fused"]
            if not op.ok:
                continue
            hf = triple_set_hash(spark, f"{it['dir']}/fused/triples")
            op.info["triples"] = hf["rows"]
            if hf != hc:
                self.ctx.fail(op, f"fused {hf} != checkpointed {hc}")
            canon = dict(
                spark.read.parquet(f"{it['dir']}/fused/triples")
                .filter(F.col("pred") == EX_DUP).select("subj", "obj").collect()
            )
            for g in self.groups:
                nodes = {canon.get(f"<http://ex.org/doc/{i}>", f"<http://ex.org/doc/{i}>") for i in g.doc_ids}
                if len(nodes) != 1:
                    self.ctx.fail(op, f"planted group of {len(g.doc_ids)} maps to {len(nodes)} canonical nodes")
        shutil.rmtree(f"{self.ctx.work}/kg", ignore_errors=True)

    def e2e(self) -> dict[str, list[float]]:
        fused = [o for o in self.ctx.ops if o.kind == "fused" and o.ok]
        return {
            "build_wall_s": [o.wall_s for o in fused],
            "triples_per_s": [o.info["triples"] / o.wall_s for o in fused],
            "ckpt_build_wall_s": [self.ckpt_op.wall_s] if self.ckpt_op.ok else [],
        }

    def units(self):
        return [[o] for o in self.ctx.ops if o.kind == "fused"], self.e2e()["triples_per_s"]


# ---------------------------------------------------------------------------
# SPARQL over the BSBM mapping
# ---------------------------------------------------------------------------

ROUND = 10
WARM_SHAPES = 4


class SparqlBSBM:
    """A closed loop of one client sending the seeded BSBM request stream to
    one long-lived store; every 5th request repeats an earlier text."""

    name = "sparql-bsbm"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sf = 0.001 if ctx.tiny else 0.1
        self.data = f"{ctx.work}/input"
        self.results: list[tuple[Op, gen.Request, object]] = []

    def generate(self, out_dir: str) -> None:
        self.rows = gen.tpch_tables(out_dir, self.ctx.seed, self.sf)

    def _store(self, data: str):
        from rdflib_r2r_spark import bsbm

        spark = self.ctx.spark
        tables = {t: spark.read.parquet(f"{data}/{t}.parquet") for t in bsbm.BSBM_TABLES}
        return bsbm.bsbm_store(spark, tables)

    def warm(self) -> None:
        # the first WARM_SHAPES shapes once, on a throw-away store over
        # sf0.001 tables, so the timed store starts with an empty plan
        # cache.  The first requests of a process pay JVM JIT and code
        # generation whatever the table size (30 s for all 8 shapes at
        # sf0.001); the SPARQL compile is Python and warms nothing, so half
        # the shapes warm the shared JVM paths at half the cost.
        tiny = f"{self.ctx.work}/warm-input"
        rows = gen.tpch_tables(tiny, self.ctx.seed, 0.001)
        store = self._store(tiny)
        warm = gen.bsbm_stream(self.ctx.seed + 1_000_003, rows["part"],
                               repeat_every=len(gen.SHAPES) + 1)
        for r in itertools.islice(warm, WARM_SHAPES):
            store.query(r.sparql).toPandas()

    def measure(self) -> None:
        # whole rounds of ROUND requests (each of the 8 shapes once with
        # fresh constants, plus 2 repeats), so every run measures the same mix
        store = self._store(self.data)
        stream = gen.bsbm_stream(self.ctx.seed, self.rows["part"])
        t0 = time.perf_counter()
        for i, req in enumerate(stream):
            if i and i % ROUND == 0 and time.perf_counter() - t0 >= self.ctx.seconds:
                break
            kind = f"{req.shape}:repeat" if req.repeat else req.shape
            op, pdf = self.ctx.timed(kind, lambda: self.query(store, req.sparql))
            self.results.append((op, req, pdf))
        self.store = store

    def query(self, store, text: str):
        tr = self.ctx.tracer
        df = store.query(text)
        if tr is not None:
            force_planning(tr, df)
        return df.toPandas()

    def check(self, _=None) -> None:
        import duckdb

        from rdflib_r2r_spark import bsbm
        from scripts.check_contract import value_hash

        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{self.ctx.work}/duckdb'")
        for t in bsbm.BSBM_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        twins: dict[str, object] = {}
        for op, req, got in self.results:
            if not op.ok:
                continue
            if req.sql not in twins:
                twins[req.sql] = con.execute(req.sql).fetchdf()
            want = twins[req.sql]
            op.info["rows"] = len(got)
            if value_hash(got) == value_hash(want):
                continue
            if req.shape in gen.TIED_ORDER and tie_equivalent(con, req, got, want, value_hash):
                op.info["tie_equivalent"] = True
                continue
            self.ctx.fail(op, f"{req.shape}: value hash differs from the DuckDB twin")
        con.close()

    def e2e(self) -> dict[str, list[float]]:
        lat = [op.wall_s * 1000 for op, _, _ in self.results if op.ok]
        span = sum(op.wall_s for op, _, _ in self.results)
        return {
            "query_ms": lat,
            "queries_per_s": [len(self.results) / span] if span else [],
        }

    def units(self):
        """A unit is one round of ROUND requests, an item one request."""
        ops = [op for op, _, _ in self.results]
        rounds = [ops[k:k + ROUND] for k in range(0, len(ops), ROUND)]
        return rounds, [len(r) / sum(o.wall_s for o in r) for r in rounds]

    def trace_hooks(self, tr: Tracer) -> None:
        from rdflib_r2r_spark import compiler
        from rdflib_r2r_spark.sparql import bgp, evaluator, store

        tr.wrap(store.SparkR2RStore, "query", "sparql.store.query")
        tr.wrap(store, "parse_query", "sparql.parser.parse_query")
        tr.wrap(evaluator.Evaluator, "eval_select", "sparql.evaluator.eval_select")
        tr.wrap(bgp.BGPCompiler, "compile", "sparql.bgp.compile")
        for m in ("compile", "source_df", "term_columns"):
            tr.wrap(compiler.SparkMappingCompiler, m, "compiler.compile")

    def trace_layers(self, tr: Tracer) -> dict:
        rounds = max(len(self.units()[0]), 1)
        hits = sum(1 for op, req, _ in self.results if req.repeat)
        return {
            "sparql.parser.parse_ms": tr.total_ms("sparql.parser.parse_query") / rounds,
            "sparql.compile_ms": tr.total_ms("sparql.evaluator.eval_select") / rounds,
            "sparql.bgp.compile_ms": tr.total_ms("sparql.bgp.compile") / rounds,
            "sparql.store.query_ms": tr.total_ms("sparql.store.query") / rounds,
            "sparql.store.plan_cache_hit_ratio": hits / max(len(self.results), 1),
            "compiler.compile_ms": tr.total_ms("compiler.compile") / rounds,
        }


def tie_equivalent(con, req, got, want, value_hash) -> bool:
    """For shapes ordered by a non-unique label under LIMIT: the answer is
    right when it has the twin's row count and sort-key multiset, and every
    row is a row of the twin without its LIMIT."""
    keys = gen.TIED_ORDER[req.shape]
    if len(got) != len(want) or set(got.columns) != set(want.columns):
        return False
    if value_hash(got[keys]) != value_hash(want[keys]):
        return False
    head, sep, _ = req.sql.rpartition("LIMIT")
    if not sep:
        return False
    full = con.execute(head).fetchdf()
    cols = sorted(want.columns)
    pool = {tuple(map(str, r)) for r in full[cols].itertuples(index=False)}
    return all(tuple(map(str, r)) in pool for r in got[cols].itertuples(index=False))


# ---------------------------------------------------------------------------
# curation operators
# ---------------------------------------------------------------------------

LEAVES = ("q_quality_filter", "q_repetition", "dedup_segments", "q_chunk_docs",
          "q_tokenize", "q_perplexity", "q_source_cap", "dedup_lsh_pairs",
          "dedup_simhash", "q_text_stats", "dedup_ngram_jaccard", "dedup_clusters")


class Curation:
    """Passes over the curation leaves of ``__spark_entry__.queries()``; each leaf
    is built, then collected."""

    name = "curation"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_docs = 50 if ctx.tiny else gen.KG_SMALL_DOCS
        self.data = f"{ctx.work}/input"
        self.results: list[tuple[Op, str, object]] = []

    def generate(self, out_dir: str) -> None:
        gen.write_parquet(gen.documents_frame(self.n_docs, self.ctx.seed), f"{out_dir}/documents.parquet")

    def warm(self) -> None:
        import __spark_entry__ as E

        qs = E.queries()
        for leaf in LEAVES:
            qs[leaf](self.ctx.spark, self.data).toPandas()

    def measure(self) -> None:
        import __spark_entry__ as E

        qs = E.queries()
        t0 = time.perf_counter()
        while not self.results or time.perf_counter() - t0 < self.ctx.seconds:
            for leaf in LEAVES:
                built = {}

                def run(leaf=leaf, built=built):
                    tr = self.ctx.tracer
                    b0 = time.perf_counter()
                    if tr is None:
                        df = qs[leaf](self.ctx.spark, self.data)
                    else:
                        with tr.span(f"operators.{leaf}.build", jobs=True):
                            df = qs[leaf](self.ctx.spark, self.data)
                    built["build_s"] = time.perf_counter() - b0
                    if tr is not None:
                        force_planning(tr, df)
                    return df.toPandas()

                op, pdf = self.ctx.timed(leaf, run)
                op.info["build_s"] = built.get("build_s", 0.0)
                self.results.append((op, leaf, pdf))

    def check(self, _=None) -> None:
        import duckdb

        import __spark_entry__ as E
        from scripts.check_contract import value_hash

        osql = E.oracle_sql()
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{self.ctx.work}/duckdb'")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.data}/documents.parquet'")
        want = {}
        for op, leaf, got in self.results:
            if not op.ok:
                continue
            if leaf not in want:
                want[leaf] = value_hash(con.execute(osql[leaf]).fetchdf())
            op.info["rows"] = len(got)
            if value_hash(got) != want[leaf]:
                self.ctx.fail(op, f"{leaf}: value hash differs from the DuckDB twin")
        con.close()

    def e2e(self) -> dict[str, list[float]]:
        return {"suite_wall_s": [sum(o.wall_s for o in p) for p in self.units()[0]]}

    def units(self):
        """A unit is one pass over the leaves, an item one document through
        one leaf."""
        ops = [op for op, _, _ in self.results]
        passes = [ops[k:k + len(LEAVES)] for k in range(0, len(ops), len(LEAVES))]
        return passes, [self.n_docs * len(p) / sum(o.wall_s for o in p) for p in passes]

    def trace_hooks(self, tr: Tracer) -> None:
        pass

    def trace_layers(self, tr: Tracer) -> dict:
        out = {}
        for leaf in LEAVES:
            ops = [op for op, lf, _ in self.results if lf == leaf]
            if not ops:
                continue
            out[f"operators.{leaf}.build_ms"] = median([o.info["build_s"] * 1000 for o in ops])
            out[f"operators.{leaf}.exec_ms"] = median([(o.wall_s - o.info["build_s"]) * 1000 for o in ops])
            out[f"operators.{leaf}.jobs"] = median([o.info["jobs"] for o in ops])
        return out


# ---------------------------------------------------------------------------
# traced-run helpers shared by the workloads
# ---------------------------------------------------------------------------

def force_planning(tr: Tracer, df) -> None:
    """Catalyst's optimize and physical-planning phases, forced and timed
    one at a time on the DataFrame's own QueryExecution (the collect that
    follows reuses them)."""
    qe = df._jdf.queryExecution()
    with tr.span("catalyst.analyze"):
        qe.analyzed()
    with tr.span("catalyst.optimize"):
        qe.optimizedPlan()
    with tr.span("catalyst.plan"):
        qe.executedPlan()


def wrap_final_planning(tr: Tracer) -> None:
    """Time Catalyst on the pipeline's final triple plan: the `triples`
    stage's DataFrame is planned (forced) before the pipeline writes it.
    The write plans it again, so this is traced-run overhead."""
    from pyspark.sql.readwriter import DataFrameWriter

    from rdflib_r2r_spark import pipeline

    stage = pipeline.KGPipeline.stage

    def traced_stage(self, name, upstream, compute, partition_by=None):
        if name == "triples":
            inner = compute

            def compute():
                df = inner()
                force_planning(tr, df)
                return df
        return stage(self, name, upstream, compute, partition_by)

    pipeline.KGPipeline.stage = traced_stage
    tr._patches.append((pipeline.KGPipeline, "stage", stage))

    write = DataFrameWriter.parquet

    def traced_parquet(self, path, *a, **kw):
        name = "pipeline.lineage_write" if "/_lineage/" in str(path) else "pipeline.write"
        with tr.span(name, jobs=True):
            return write(self, path, *a, **kw)

    DataFrameWriter.parquet = traced_parquet
    tr._patches.append((DataFrameWriter, "parquet", write))


def median(xs: list[float]) -> float:
    import statistics

    return statistics.median(xs) if xs else 0.0


WORKLOADS = {w.name: w for w in (KGSmall, KGLarge, SparqlBSBM, Curation)}
