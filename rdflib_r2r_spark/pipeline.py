"""End-to-end KG-construction pipeline with per-stage checkpoint-resume and
per-partition lineage (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Stage graph (each stage = parquet dir + manifest + lineage rows):

    documents ─> pages ─> extracted ─┬─> base_triples (R2RML mapping compile)
                                     ├─> alias_dict ─> mentions ─> mention_triples
                                     └─> edges (MinHash-LSH) ─> canon ─> sameas_triples
    triples = union(...) ─> bucketed write by subject hash

Resume contract: a stage whose manifest fingerprint (input fingerprint +
stage version + params) matches on disk is NOT recomputed — its parquet is
read back. Fingerprints chain, so changing any upstream stage or parameter
invalidates everything downstream. Lineage rows record (stage, output file,
row count, fingerprint, wall seconds) per output partition file.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdflib_r2r_spark import terms
from rdflib_r2r_spark.compiler import SparkMappingCompiler
from rdflib_r2r_spark.mapping import (
    LogicalSource,
    PredicateObjectMap,
    SubjectMap,
    TermMap,
    TriplesMap,
    const_iri,
)
from rdflib_r2r_spark.web import components, linking, mentions as men, pages as pg
from rdflib_r2r_spark.web.extract import EXTRACTOR_VERSION, extract_text

PIPELINE_VERSION = "2"  # v2: mentions stage = distinct pair set (mention_entities)
EX = "http://ex.org/"


def pages_triples_map() -> TriplesMap:
    """The R2RML generalization: the web-pages table is the logical source;
    subject = url-template IRI (SURVEY.md §0 'key insight')."""
    return TriplesMap(
        name="pages",
        source=LogicalSource(table="pages"),
        # rr:column + rr:termType rr:IRI: the url column IS the subject IRI
        # (a template slot would percent-encode it, per R2RML).
        subject_map=SubjectMap(column="url", term_type="IRI", classes=(EX + "Document",)),
        pomaps=(
            PredicateObjectMap(
                predicates=(const_iri(EX + "lang"),),
                objects=(TermMap(column="lang"),),
            ),
            PredicateObjectMap(
                predicates=(const_iri(EX + "fetched"),),
                objects=(TermMap(column="warc_ts", datatype=terms.XSD_DATETIME),),
            ),
        ),
    )


@dataclass
class StageResult:
    name: str
    path: str
    fingerprint: str
    resumed: bool
    seconds: float
    rows: int | None = None


@dataclass
class KGPipeline:
    spark: SparkSession
    sf_dir: str
    workdir: str
    num_buckets: int = 64
    dict_size: int = 24
    num_hashes: int = 8
    band_rows: int = 2
    threshold: float = 0.5
    resume: bool = True
    count_rows: bool = True
    # checkpoint_stages=False fuses all intermediate stages into one DAG:
    # multi-consumer intermediates are memory/disk-persisted instead of
    # parquet round-tripped, and only the final bucketed triple table (plus
    # its lineage) hits storage. Use for throughput runs; checkpointed mode
    # (default) is the resumable production shape — on a cluster its writes
    # go to distributed storage, locally they serialize on one disk.
    checkpoint_stages: bool = True
    results: dict[str, StageResult] = field(default_factory=dict)

    # -- checkpoint/lineage machinery ----------------------------------------

    def _input_fingerprint(self) -> str:
        p = os.path.join(self.sf_dir, "documents.parquet")
        st = os.stat(p)
        return hashlib.sha256(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode()).hexdigest()[:16]

    def _params(self) -> dict:
        return {
            "pipeline_version": PIPELINE_VERSION,
            "extractor_version": EXTRACTOR_VERSION,
            "num_buckets": self.num_buckets,
            "dict_size": self.dict_size,
            "num_hashes": self.num_hashes,
            "band_rows": self.band_rows,
            "threshold": self.threshold,
        }

    def _fingerprint(self, name: str, upstream: list[str]) -> str:
        payload = json.dumps(
            {
                "input": self._input_fingerprint(),
                "params": self._params(),
                "stage": name,
                "upstream": [self.results[u].fingerprint for u in upstream],
            },
            sort_keys=True,
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.workdir, "_manifests", f"{name}.json")

    def stage(self, name: str, upstream: list[str], compute, partition_by: str | None = None) -> DataFrame:
        """Run-or-resume one stage; persist parquet + manifest + lineage."""
        fp = self._fingerprint(name, upstream)
        path = os.path.join(self.workdir, name)
        mpath = self._manifest_path(name)
        t0 = time.time()
        if not self.checkpoint_stages and name != "triples":
            # fused: no parquet; the multi-consumer frames are persisted.
            # 'sigs' (small, numeric) lazily.  'extracted' (big text, 4
            # consumers) is also counted once, under its own wall: the
            # round-7 sf1.0 A/B (min-of-2 fused walls) measured persist
            # 7.64 s against 8.46 s recomputing it per consumer and 9.98 s
            # for a parquet round-trip.
            df = compute()
            if name in ("sigs", "extracted"):
                df = df.persist()
            if name == "extracted":
                df.count()
            self.results[name] = StageResult(name, "", fp, False, time.time() - t0, None)
            return df
        if self.resume and os.path.exists(mpath):
            with open(mpath) as f:
                manifest = json.load(f)
            if manifest.get("fingerprint") == fp:
                self.results[name] = StageResult(name, path, fp, True, time.time() - t0,
                                                 manifest.get("rows"))
                return self.spark.read.parquet(path)

        df = compute()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)

        out = self.spark.read.parquet(path)
        lineage = (
            out.withColumn("file", F.input_file_name())
            .groupBy("file")
            .agg(F.count(F.lit(1)).alias("rows"))
            .withColumn("stage", F.lit(name))
            .withColumn("fingerprint", F.lit(fp))
            .withColumn("wall_seconds", F.lit(time.time() - t0))
        )
        lpath = os.path.join(self.workdir, "_lineage", name)
        lineage.write.mode("overwrite").parquet(lpath)
        rows = None
        if self.count_rows:
            lrows = self.spark.read.parquet(lpath).agg(F.sum("rows")).collect()[0][0]
            rows = int(lrows or 0)
        os.makedirs(os.path.dirname(mpath), exist_ok=True)
        with open(mpath, "w") as f:
            json.dump({"fingerprint": fp, "rows": rows, "params": self._params(),
                       "wall_seconds": time.time() - t0}, f)
        self.results[name] = StageResult(name, path, fp, False, time.time() - t0, rows)
        return out

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.workdir, "_lineage", "*"))

    # -- stages ---------------------------------------------------------------

    def run(self) -> DataFrame:
        from rdflib_r2r_spark.session import widen_scan

        spark = self.spark
        docs_path = os.path.join(self.sf_dir, "documents.parquet")
        docs = widen_scan(spark.read.parquet(docs_path), cache_key=docs_path)

        pages = self.stage("pages", [], lambda: pg.pages_from_documents(docs))

        extracted = self.stage(
            "extracted",
            ["pages"],
            lambda: pages.select(
                "url", "warc_ts", "lang", extract_text(F.col("html")).alias("text")
            ),
        )

        base_triples = self.stage(
            "base_triples",
            ["extracted"],
            lambda: SparkMappingCompiler(spark, {"pages": extracted}).compile(
                [pages_triples_map()]
            ),
        )
        alias_dict = self.stage(
            "alias_dict",
            ["extracted"],
            lambda: men.build_alias_dict(extracted, size=self.dict_size),
        )
        sigs = self.stage(
            "sigs",
            ["extracted"],
            lambda: linking.signatures(extracted, num_hashes=self.num_hashes),
        )

        # minhash signatures are checkpointed above, so the candidate
        # self-join and verification read parquet instead of re-hashing
        # the corpus on every branch of the join.
        edges = self.stage(
            "edges",
            ["sigs"],
            lambda: linking.near_dup_edges(
                extracted, num_hashes=self.num_hashes,
                band_rows=self.band_rows, threshold=self.threshold,
                sigs=sigs,
            ),
        )

        # fast path: per-row array_intersect against the inlined dict — no
        # 100-tokens-per-doc explode row blowup; emits the distinct
        # (url, entity_id) pair set directly
        mention_rows = self.stage(
            "mentions",
            ["extracted", "alias_dict"],
            lambda: men.mention_entities(extracted, alias_dict),
        )
        # hops=3: near-dup clusters are shallow; 3 min-propagation hops per
        # checkpointed round covers diameter 3 in ONE barrier (measured 3.7s
        # vs 4.4s at hops=2 on the rep500 edge set) — the barrier count is
        # the serial term
        canon = self.stage(
            "canon",
            ["edges"],
            lambda: components.canonical_map(edges, hops_per_round=3),
        )

        nb = self.num_buckets

        def _bucket_of(subj_col):
            return F.pmod(F.xxhash64(subj_col), F.lit(nb))

        def _wrap(c):
            return F.concat(F.lit("<"), c, F.lit(">"))

        def _same_triples(canon_df: DataFrame) -> DataFrame:
            return canon_df.select(
                _wrap(F.col("node")).alias("subj"),
                F.lit(f"<{EX}duplicateOf>").alias("pred"),
                _wrap(F.col("canonical")).alias("obj"),
                F.lit(None).cast("string").alias("obj_dt"),
                F.lit(None).cast("string").alias("obj_lang"),
                F.lit(None).cast("string").alias("graph"),
            )

        def build_triples() -> DataFrame:
            if self.checkpoint_stages:
                # resumable mode: sources are materialized parquet of
                # RENDERED triples — bucket + repartition them as-is
                mt = men.mention_triples(mention_rows, pre_deduped=True)
                allt = base_triples.unionByName(mt).unionByName(_same_triples(canon))
                return allt.withColumn(
                    "subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(nb))
                ).repartition(nb, "subj_bucket")
            # fused mode: LATE RENDERING through the bucket exchange.  Every
            # triple's subject is the page url, so the subject-hash bucket is
            # computable from the raw row; shuffling the raw sources
            # (url+lang+ts / url+entity_id / node+canonical) moves ~20x fewer
            # bytes than shuffling 6 rendered string columns per triple, and
            # the IRI concats run once, post-exchange, on co-located rows.
            pages_shuf = extracted.repartition(nb, _bucket_of(_wrap(F.col("url"))))
            base = SparkMappingCompiler(
                self.spark, {"pages": pages_shuf}
            ).compile([pages_triples_map()])
            mp_shuf = mention_rows.repartition(nb, _bucket_of(_wrap(F.col("url"))))
            mt = men.mention_triples(mp_shuf, pre_deduped=True)
            canon_shuf = canon.repartition(nb, _bucket_of(_wrap(F.col("node"))))
            allt = base.unionByName(mt).unionByName(_same_triples(canon_shuf))
            # re-derive the bucket from the rendered subject (identical value
            # to the pre-shuffle expression — pure projection, no exchange)
            return allt.withColumn(
                "subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(nb))
            )

        triples = self.stage("triples", ["base_triples", "mentions", "canon"],
                             build_triples, partition_by="subj_bucket")
        return triples
