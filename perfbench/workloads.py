"""The benchmark's workloads: each drives the public entry points the way
a user does (untraced) and, for the traced run, calls every layer's
public function in pipeline order under its own job description.

Untraced passes:
- ``kg_model``: ``load_documents`` -> ``run_pipeline(mode="model")`` ->
  triples parquet.
- ``kg_graph``: ``load_documents`` -> ``build_graph(mode="rules")`` ->
  ``write_graph`` (edges partitioned by subtype, vertices by kind).

The traced compositions mirror ``pipeline.run_pipeline`` (model mode) and
``sinks.build_graph`` step for step, forcing each layer with
``util.materialize`` (token-scale frames) or ``util.truncate``
(event-scale frames) and counting its rows.  Their outputs must
fingerprint identically to the untraced passes, which catches drift
between these compositions and the program's own.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from casie_spark.functions.text import extract_pubdate_raw
from casie_spark.operators.begin_repair import (
    arguments_with_context, events_with_context, load_begin_weights,
    repair_edges)
from casie_spark.operators.canonicalize import (
    build_dictionary, canonicalize_surfaces)
from casie_spark.operators.coref import cluster_events
from casie_spark.operators.linker import link_trained
from casie_spark.operators.linking import extract_arguments, extract_events, link
from casie_spark.operators.model_tagger import tag_model
from casie_spark.operators.realis import trained_realis_provider, with_realis
from casie_spark.operators.roles import assign_roles, trained_role_provider
from casie_spark.operators.rules import apply_rules
from casie_spark.operators.tagging import tag_rules
from casie_spark.operators.tokenizer import tokenize
from casie_spark.pipeline import TRIPLE_COLUMNS, doc_key, run_pipeline, salt_repartition
from casie_spark.sources.documents import load_documents
from casie_spark.sources.sinks import build_graph, write_graph
from casie_spark.util import materialize, truncate

from gen import Shape

LAYERS = ("documents", "tokenizer", "tagger", "rules", "events", "realis",
          "arguments", "linking", "roles", "triples", "coref",
          "canonicalize", "graph_write")


@dataclass
class Span:
    name: str
    start: float   # epoch seconds, comparable with event-log task times
    end: float
    rows: int = 0


@dataclass
class Tracer:
    """Labels each layer's Spark jobs and keeps its span in memory."""

    spark: SparkSession
    spans: list[Span] = field(default_factory=list)

    def step(self, name: str, make: Callable[[], DataFrame],
             barrier: Callable[[DataFrame], DataFrame]) -> DataFrame:
        """Build a layer's frame, force it with ``barrier`` and count it."""
        def run() -> tuple[DataFrame, int]:
            df = barrier(make())
            return df, df.count()
        return self.run(name, run)

    def run(self, name: str, fn: Callable[[], tuple[object, int]]):
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        start = time.time()
        try:
            out, rows = fn()
        finally:
            # descriptions are sticky: clear it so later jobs are not
            # attributed to this layer
            sc.setJobDescription(None)
        self.spans.append(Span(name, start, time.time(), rows))
        return out


def documents(spark: SparkSession, path: str, dedup: bool) -> DataFrame:
    """The English pages a user feeds the pipeline.  With ``dedup``,
    re-crawled duplicate urls are dropped too: ``run_pipeline(mode="model")``
    raises on them (``tag_model``'s emission-order check), so only the
    model workload needs it."""
    docs = load_documents(spark, path).filter(F.col("lang") == "en")
    return docs.dropDuplicates(["url"]) if dedup else docs


def _observed(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _written(observations: dict[str, Observation]) -> dict[str, int]:
    return {k: int(o.get["rows"]) for k, o in observations.items()}


def _write_triples(triples: DataFrame, out: str) -> dict[str, int]:
    df, obs = _observed(triples, "triples")
    df.write.mode("overwrite").parquet(os.path.join(out, "triples"))
    return _written({"triples": obs})


def _write_graph(vertices: DataFrame, edges: DataFrame, out: str) -> dict[str, int]:
    v, ov = _observed(vertices, "vertices")
    e, oe = _observed(edges, "edges")
    write_graph(v, e, out)
    return _written({"edges": oe, "vertices": ov})


# --- kg_model ------------------------------------------------------------


def model_untraced(spark: SparkSession, docs_path: str, out: str) -> dict[str, int]:
    return _write_triples(
        run_pipeline(documents(spark, docs_path, dedup=True), mode="model"), out)


def model_traced(t: Tracer, docs_path: str, out: str) -> dict[str, int]:
    spark = t.spark
    docs = t.step("documents", lambda: documents(spark, docs_path, dedup=True), materialize)
    toks = t.step("tokenizer", lambda: tokenize(
        salt_repartition(docs, "url").withColumn("_doc_key", doc_key(F.col("url"))),
        id_col="_doc_key", id_type="long", context=False).drop("end"), materialize)
    tagged = t.step("tagger", lambda: tag_model(toks), materialize)
    tagged = t.step("rules", lambda: apply_rules(tagged), materialize)
    bw = load_begin_weights()
    events = t.step("events", lambda: repair_edges(
        events_with_context(tagged, carry=["realis"]),
        bw["trig"], bw.get("trig_end"), label_col="subtype"), truncate)
    if "realis" not in events.columns:
        events = t.step("realis", lambda: with_realis(
            events, tagged, provider=trained_realis_provider(None)), truncate)
    args = t.step("arguments", lambda: repair_edges(
        arguments_with_context(tagged, carry=["role"]),
        bw["arg"], bw.get("arg_end")), truncate)
    linked = t.step("linking", lambda: link_trained(events, args, tagged), truncate)
    rolled = t.step("roles", lambda: assign_roles(
        linked, provider=trained_role_provider(None), route="all", canon=True),
        truncate)

    def triples() -> tuple[dict[str, int], int]:
        realis = (F.col("realis") if "realis" in rolled.columns
                  else F.lit(None).cast("string"))
        out_rows = rolled.select(
            "doc_id",
            F.col("event_text").alias("subj"),
            F.coalesce("role", F.lit("has_argument")).alias("pred"),
            F.col("arg_text").alias("obj"),
            F.col("subtype").alias("event_subtype"),
            F.coalesce(realis, F.lit("Actual")).alias("realis"),
            "event_id", "event_begin", "arg_begin",
            F.lit(1.0).alias("confidence"),
        )
        id_map = docs.select(doc_key(F.col("url")).alias("doc_id"),
                             F.col("url").cast("string").alias("_url")).distinct()
        written = _write_triples(
            out_rows.join(id_map, "doc_id").drop("doc_id")
            .withColumnRenamed("_url", "doc_id").select(*TRIPLE_COLUMNS), out)
        return written, written["triples"]

    return t.run("triples", triples)


# --- kg_graph ------------------------------------------------------------


def graph_untraced(spark: SparkSession, docs_path: str, out: str) -> dict[str, int]:
    vertices, edges = build_graph(documents(spark, docs_path, dedup=False), mode="rules",
                                  dictionary=build_dictionary(spark))
    return _write_graph(vertices, edges, out)


def graph_traced(t: Tracer, docs_path: str, out: str) -> dict[str, int]:
    spark = t.spark
    docs = t.step("documents", lambda: documents(spark, docs_path, dedup=False), materialize)
    toks = t.step("tokenizer", lambda: tokenize(
        salt_repartition(docs, "url").withColumn("_doc_key", doc_key(F.col("url"))),
        id_col="_doc_key", id_type="long", context=False)
        .drop("end").repartition(F.col("doc_id")), materialize)
    tagged = t.step("tagger", lambda: tag_rules(toks), materialize)
    tagged = t.step("rules", lambda: apply_rules(tagged), materialize)
    events = t.step("events", lambda: extract_events(tagged, carry=["realis"]), truncate)
    args = t.step("arguments", lambda: extract_arguments(tagged, carry=["role"]), truncate)
    linked = t.step("linking", lambda: link(events, args, tagged), truncate)
    linked = t.step("roles", lambda: assign_roles(linked), truncate)

    id_map = docs.select(doc_key(F.col("url")).alias("doc_id"),
                         F.col("url").cast("string").alias("_url")).distinct()

    def restore(df: DataFrame) -> DataFrame:
        return (df.join(id_map, "doc_id").drop("doc_id")
                .withColumnRenamed("_url", "doc_id"))

    def url_join() -> tuple[tuple[DataFrame, DataFrame], int]:
        ev, ln = truncate(restore(events)), truncate(restore(linked))
        return (ev, ln), ln.count()

    events, linked = t.run("triples", url_join)
    pubdates = docs.select(
        F.col("url").cast("string").alias("doc_id"),
        extract_pubdate_raw(F.col("html").cast("string")).alias("pubdate"))
    clusters = t.step("coref", lambda: cluster_events(
        events, linked, pubdates=pubdates, weights="reference"), truncate)
    canon = t.step("canonicalize", lambda: canonicalize_surfaces(
        linked.withColumn("obj_surface", F.col("arg_text")),
        build_dictionary(spark), "obj_surface"
    ).withColumnRenamed("canonical_id", "obj_id"), truncate)

    edges = (
        canon.join(clusters, ["doc_id", "event_id"], "left")
        .select(
            F.concat(F.lit("event:"), F.col("doc_id"), F.lit("#"),
                     F.col("event_id")).alias("subj_id"),
            F.col("event_text").alias("subj_surface"),
            F.coalesce("role", F.lit("has_argument")).alias("pred"),
            F.coalesce("obj_id", F.lower("arg_text")).alias("obj_id"),
            F.col("arg_text").alias("obj_surface"),
            "doc_id", "event_id",
            F.coalesce("cluster_id", F.lit(-1)).alias("cluster_id"),
            F.col("subtype").alias("event_subtype"),
            (F.coalesce(F.col("realis"), F.lit("Actual"))
             if "realis" in canon.columns else F.lit("Actual")).alias("realis"),
            F.lit(1.0).alias("confidence"),
        )
    )
    vertices = (
        edges.groupBy(F.col("obj_id").alias("vertex_id"))
        .agg(F.min("obj_surface").alias("surface"), F.count("*").alias("n_mentions"))
        .withColumn("kind", F.lit("entity"))
        .unionByName(
            edges.groupBy(F.col("subj_id").alias("vertex_id"))
            .agg(F.min("subj_surface").alias("surface"),
                 F.count("*").alias("n_mentions"))
            .withColumn("kind", F.lit("event")))
    )

    def write() -> tuple[dict[str, int], int]:
        written = _write_graph(vertices, edges, out)
        return written, written["edges"] + written["vertices"]

    return t.run("graph_write", write)


@dataclass(frozen=True)
class Workload:
    name: str
    shape: Shape
    untraced: Callable[[SparkSession, str, str], dict[str, int]]
    traced: Callable[[Tracer, str, str], dict[str, int]]
    kind: str   # "triples" or "graph": which outputs the checks read back


# Sizes are the largest that keep a run, one cold pass in a fresh session,
# within the run budget (see README, "Sizing").  A cold kg_model pass is
# about 52 s of fixed cost plus 5.4 ms a page; kg_graph's is about 59 s
# plus 44 ms a page, on a 4-CPU VM.
WORKLOADS = {
    "kg_model": Workload(
        "kg_model",
        Shape(pages=1000, min_sentences=4, max_sentences=14, event_density=0.55,
              lexicon_share=0.3, lexicon_size=5000, domains=64, zipf_s=1.2,
              non_en_share=0.04, duplicate_share=0.02),
        model_untraced, model_traced, "triples"),
    "kg_graph": Workload(
        "kg_graph",
        Shape(pages=120, min_sentences=12, max_sentences=30, event_density=0.6,
              lexicon_share=0.3, lexicon_size=20000, domains=64, zipf_s=1.2,
              non_en_share=0.04, duplicate_share=0.02),
        graph_untraced, graph_traced, "graph"),
}

